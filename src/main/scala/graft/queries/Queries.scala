package graft.queries

import graft.core.{Adaptive, AggMethod, ColSpec, Exact, Tables}
import graft.functions.{Text, Url, ZOrder}
import graft.operators._
import graft.sources.DelimitedSource
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

/** The registered query surface: one named query per implemented
  * operator (SURVEY.md §2 + §2.5), each with a DuckDB oracle twin in
  * [[Oracles]]. Queries run the library operators against the driver's
  * TPC-H-ish parquet corpus; `events` plays the training-diary role
  * (date = CAST(ts AS DATE), activity dim = event_type, measure =
  * value, duration-weight = props.k — SURVEY.md §7.1).
  *
  * Determinism rules (SURVEY.md §5.1): every query ends in a total
  * ORDER BY; float aggregates are decimal-exact (graft.core.Exact) so
  * Spark-at-any-parallelism and single-threaded DuckDB produce
  * bit-identical doubles; rounding uses `round` (HALF_UP, matches
  * DuckDB) never `bround` in oracle-facing queries; int-rounding uses
  * floor(x+0.5) which is pure binary IEEE arithmetic on both engines.
  */
/** Fixture data shared between a Spark query and its DuckDB oracle so
  * neither side depends on an artifact the other produced (the oracle
  * inlines these lines as VALUES; the Spark query writes them to a
  * per-run temp file and reads them back through the JSON source).
  */
object Fixtures {
  /** Mini diary JSONL for q40 — line 4 is deliberately truncated JSON
    * to exercise the PERMISSIVE quarantine path.
    */
  val q40DiaryLines: Seq[String] = Seq(
    """{"date":"2021-01-01","workouts":[{"activity":"run","km":10.5,"minutes":62},{"activity":"swim","km":1.25,"minutes":40}]}""",
    """{"date":"2021-01-02","workouts":[]}""",
    """{"date":"2021-01-03","workouts":[{"activity":"bike","km":40.0,"minutes":95}]}""",
    """{"date":"2021-01-04","workouts":[{"activity":"run","km":7.25,"minutes":44}""", // truncated → quarantine
    """{"date":"2021-01-05","workouts":[{"activity":"run","km":5.0,"minutes":30},{"activity":"bike","km":25.5,"minutes":70}]}""",
  )

  /** Mini diary CSV for q67 — line 5's km is non-numeric to exercise
    * the PERMISSIVE quarantine path (the oracle inlines the four
    * clean rows as VALUES with n_quarantined = 1).
    */
  val q67CsvLines: Seq[String] = Seq(
    "date,activity,km,minutes",
    "2021-01-01,run,10.5,62",
    "2021-01-02,swim,1.25,40",
    "2021-01-03,bike,40.0,95",
    "2021-01-04,run,notanumber,44", // malformed km → quarantine
    "2021-01-05,run,5.0,30",
  )
}

/** Per-run scratch space for the sink/source roundtrip queries (q40,
  * q60, q62–q64, q66, q67, q69). Streaming checkpoints are deleted
  * EAGERLY ([[drop]]) the moment the bounded run finishes — the sink
  * read-back never touches them; memoized stream inputs are reused for
  * the life of the process ([[Queries]]' fixture memo). Sink dirs
  * must outlive the query (the returned frame lazily re-reads them at
  * gate time), so the whole root is removed by a JVM shutdown hook
  * instead: `File.deleteOnExit` cannot remove non-empty directories,
  * and repeated harness runs would otherwise accumulate unbounded
  * /tmp.
  *
  * PLACEMENT: tmpfs (`/dev/shm`) when present and writable, else
  * `java.io.tmpdir`. Everything here is ephemeral BY CONTRACT (dies
  * with the JVM), and the streaming checkpoint commit protocol is
  * rename/fsync-heavy — on ext4 each micro-batch pays offset-log +
  * commit-log journal latency that measures the local filesystem,
  * not the engine (a real deployment checkpoints to HDFS/S3, where
  * the committer's semantics, not ext4's journal, set the floor).
  * `SPARK_GRAFT_SCRATCH` overrides the base dir explicitly.
  */
object Scratch {
  private lazy val root: java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    val base = sys.env.get("SPARK_GRAFT_SCRATCH").map(Paths.get(_))
      .orElse {
        val shm = Paths.get("/dev/shm")
        if (Files.isDirectory(shm) && Files.isWritable(shm)) Some(shm) else None
      }
    val p = base match {
      case Some(b) => Files.createTempDirectory(b, "graft_scratch_")
      case None    => Files.createTempDirectory("graft_scratch_")
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try drop(p) catch { case _: Throwable => () }))
    p
  }

  /** A fresh unique directory that lives until JVM exit. */
  def fresh(name: String): String =
    java.nio.file.Files.createTempDirectory(root, name).toString

  /** Recursively delete now (input/checkpoint dirs after a run). */
  def drop(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }

  def drop(path: String): Unit = drop(java.nio.file.Paths.get(path))
}

object Queries {

  type Q = (SparkSession, String) => DataFrame

  private val Mi = graft.core.DiarySpecs.Mi
  private val Ft = graft.core.DiarySpecs.Ft

  private def events(s: SparkSession, dir: String) = Tables.events(s, dir)
  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)

  /** The input of a per-row scoring projection whose result is ordered
    * by `doc_id`, range-partitioned by `doc_id` so the final orderBy
    * needs no exchange of its own and every row is scored once, on
    * every core ([[Adaptive.rangeForCpu]]). `doc_id` must pass through
    * the projection as a plain column. The shuffle then moves the text
    * instead of the scores, so a site is wrapped only where per-query
    * timing showed a gain (CHANGES.md); trivial kernels are left as is.
    */
  private def byDocId(df: DataFrame): DataFrame =
    Adaptive.rangeForCpu(df, 64L << 10, col("doc_id"))

  /** events with the diary-adapter columns: d (date), k (json weight). */
  private def ev(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("d", to_date(col("ts")))
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))

  /** Daily per-type load: the diary's "tss by activity" series. */
  private def dailyTss(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).groupBy("d", "event_type")
      .agg(Exact.dsum(col("value")).as("tss"))

  // ───────────────────────── core operators ─────────────────────────

  /** O6 catalog scan: the reference's Tables metadata becomes a
    * distinct over dim columns.
    */
  val q01Catalog: Q = (s, dir) =>
    events(s, dir).select("event_type").distinct().orderBy("event_type")

  /** O19 min/max date scan + total count. */
  val q02MinMax: Q = (s, dir) =>
    ev(s, dir).agg(
      min(col("d")).as("d_min"), max(col("d")).as("d_max"),
      count(lit(1)).as("n"))

  /** O8/O9 unit-conversion projection + derived scalar mappers
    * (mph/kph shape: distance·factor·3600/seconds, 0 when seconds≤0).
    */
  val q03Projection: Q = (s, dir) => {
    val seconds = col("k") * 60
    ev(s, dir).select(
      col("event_id"),
      col("value").as("km"),
      round(col("value") * Mi, 8).as("miles"),
      seconds.as("seconds"),
      floor(col("value") * Ft + 0.5).cast("long").as("ascent_feet"),
      // raw quotients: bit-identical on both engines, so rounding would
      // only ADD shortest-repr-tie risk (seconds divides into a
      // terminating decimal for 2^a·5^b factors)
      when(seconds > 0, col("value") * Mi * 3600.0 / seconds)
        .otherwise(0.0).as("mph"),
      when(seconds > 0, col("value") * 3600.0 / seconds)
        .otherwise(0.0).as("kph")
    ).orderBy("event_id")
  }

  /** O10 filters: positive-measure + null-safe weight + dim exclusion. */
  val q04Filters: Q = (s, dir) =>
    ev(s, dir)
      .filter(col("value") > 0 && coalesce(col("k"), lit(0L)) > 20 &&
        col("event_type") =!= "purchase")
      .select("event_id", "user_id", "value", "k")
      .orderBy("event_id")

  /** O11 calendar attrs (ISO year+week per SURVEY.md Q1). */
  val q05Calendar: Q = (s, dir) =>
    Calendar.withCalendarAttrs(
        ev(s, dir).select("d").distinct(), "d")
      .orderBy("d")

  /** O14/O15/O16/O10a: the daily grouping-sets cube with sum /
    * duration-weighted mean / int-truncated mean / bool-or aggregation,
    * mapper-after-aggregate, and the post-cube Not-Set-style filter.
    */
  val q06Cube: Q = (s, dir) => {
    val base = ev(s, dir).select(
      col("d"), col("event_type"),
      concat(lit("u"), col("user_id") % 4).as("ubucket"),
      col("value").as("v"),
      (col("value") > 100).as("is_high"),
      col("k").cast("double").as("k"))
    val perK = (a: Map[String, Column]) =>
      when(a("k_sum") > 0, a("v_sum") * 100.0 / a("k_sum")).otherwise(0.0)
    val specs = Seq(
      ColSpec("v", "v_sum", DoubleType, agg = AggMethod.Sum),
      ColSpec("v", "v_wavg", DoubleType, agg = AggMethod.WeightedMean),
      ColSpec("v", "v_wavg_int", LongType, agg = AggMethod.WeightedMean),
      ColSpec("k", "k_sum", DoubleType, agg = AggMethod.Sum),
      ColSpec("is_high", "is_high", BooleanType, agg = AggMethod.BoolOr),
      ColSpec("per_k", "per_k", DoubleType, agg = AggMethod.Sum, mapper = Some(perK)),
    )
    val projected = base.select(
      col("d") +: col("event_type") +: col("ubucket") +: col("k").as("k_w") +:
        specs.filter(_.mapper.isEmpty).map(sp => sp.project(col(sp.jsonKey)).as(sp.col)): _*)
    val cubed = CubeFanout.dailyCube(projected, "d", Seq("event_type", "ubucket"),
      specs, "k_w", notSetFilter = Map("event_type" -> Seq("purchase")))
    cubed.select(
      col("d"), col("event_type"), col("ubucket"),
      round(col("v_sum"), 6).as("v_sum"),
      col("v_wavg"),
      col("v_wavg_int").cast("long").as("v_wavg_int"),
      col("is_high"), col("per_k")
    ).orderBy("d", "event_type", "ubucket")
  }

  /** O17 date-spine gap fill over a sparsified daily series. */
  val q07Spine: Q = (s, dir) => {
    val sparse = dailyTss(s, dir).filter(dayofmonth(col("d")) % 3 =!= 0)
    Spine.gapFill(sparse, "d", Seq("event_type"), Map("tss" -> 0.0))
      .select(col("event_type"), col("d"), round(col("tss"), 6).as("tss"))
      .orderBy("event_type", "d")
  }

  /** O18 deterministic first-wins dedup per (user, day). */
  val q08Dedup: Q = (s, dir) =>
    Dedup.firstWins(ev(s, dir), Seq("user_id", "d"), Seq(col("event_id")))
      .select("user_id", "d", "event_id", "value")
      .orderBy("user_id", "d")

  /** O12 EWMA ctl/atl/tsb over the gap-filled daily series. */
  val q09Ewma: Q = (s, dir) => {
    val filled = Spine.gapFill(dailyTss(s, dir), "d", Seq("event_type"), Map("tss" -> 0.0))
    // ctl/atl/tsb are rounded to 6dp: the DuckDB recursive-CTE oracle
    // carries an internal accumulator that differs from the fold by
    // ~1e-12 (FP contraction inside its recursion), so exact equality
    // is unattainable; 6dp leaves a ~5e-7 boundary window vs ~2.5e-12
    // drift.
    Ewma.withTrainingLoad(filled, "d", Seq("event_type"), Seq("tss" -> ""))
      .select(col("event_type"), col("d"), col("tss"),
        round(col("ctl"), 6).as("ctl"), round(col("atl"), 6).as("atl"),
        round(col("tsb"), 6).as("tsb"))
      .orderBy("event_type", "d")
  }

  /** O13 rolling 7-row monotony/strain with the Q6 null discipline. */
  val q10Rolling: Q = (s, dir) => {
    val filled = Spine.gapFill(dailyTss(s, dir), "d", Seq("event_type"), Map("tss" -> 0.0))
    Rolling.withMonotonyStrain(filled, "d", Seq("event_type"), Seq("tss" -> ""))
      .select(col("event_type"), col("d"), round(col("tss"), 6).as("tss"),
        round(col("monotony"), 4).as("monotony"),
        round(col("strain"), 4).as("strain"))
      .orderBy("event_type", "d")
  }

  /** O22 weekly rollup: SUM + plain AVG per AggMethod. */
  val q11Rollup: Q = (s, dir) => {
    val day = Calendar.withCalendarAttrs(dailyTss(s, dir), "d")
      .withColumn("tss_avg", col("tss"))
    val specs = Seq(
      ColSpec("tss", "tss", DoubleType, agg = AggMethod.Sum),
      ColSpec("tss_avg", "tss_avg", DoubleType, agg = AggMethod.Mean))
    Rollup.periodic(day, "year_week", "Week", Seq("event_type"), "d", specs)
      .select(col("period"), col("event_type"), col("year_week"), col("d").as("week_end"),
        round(col("tss"), 6).as("tss"), col("tss_avg"))
      .orderBy("event_type", "year_week")
  }

  /** O1/O3/O5 under the driver gate: the JSON-source → explode →
    * partitioned-parquet-sink roundtrip (reference `populate_from_json
    * .py:111-127`'s nested diary read, the row sink, and the explicit
    * StructType schema — DDL-as-schema). The query writes a
    * deterministic mini-diary JSONL (including one CORRUPT line) to a
    * fixed path, parses it PERMISSIVE through [[DelimitedSource.jsonl]]
    * with the quarantine split, explodes the nested workouts array,
    * sinks the result as activity-partitioned parquet, and returns the
    * read-back — so schema projection, corrupt-row exclusion, explode
    * semantics, and the partitioned write/read all sit under the DuckDB
    * hash gate. The oracle does NOT read this file: it inlines the same
    * [[Fixtures.q40DiaryLines]] as VALUES (json_valid + json_transform),
    * so there is no Spark-before-oracle ordering dependency; the file
    * lives in a per-run unique temp dir, so concurrent runs can't race.
    */
  val q40JsonlRoundtrip: Q = (s, _) => {
    val base = java.nio.file.Paths.get(Scratch.fresh("q40_"))
    val lines = Fixtures.q40DiaryLines
    java.nio.file.Files.write(base.resolve("diary.jsonl"),
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = StructType(Seq(
      StructField("date", StringType),
      StructField("workouts", ArrayType(StructType(Seq(
        StructField("activity", StringType),
        StructField("km", DoubleType),
        StructField("minutes", LongType)))))))
    val raw = DelimitedSource.jsonl(s, base.resolve("diary.jsonl").toString, schema)
    val (clean, _) = DelimitedSource.quarantine(raw)
    val exploded = clean
      .select(to_date(col("date")).as("d"), explode(col("workouts")).as("w"))
      .select(col("d"), col("w.activity").as("activity"),
        col("w.km").as("km"), col("w.minutes").as("minutes"))
    val outPath = base.resolve("out_parquet").toString
    exploded.write.mode("overwrite").partitionBy("activity").parquet(outPath)
    s.read.parquet(outPath)
      .select("d", "activity", "km", "minutes")
      .orderBy("d", "activity")
  }

  /** O22 month-grain rollup: same AggMethod mapping as q11 over
    * `year_month` (reference populate_from_json.py:305-342's Month
    * branch) — SUM for Sum columns, plain unweighted AVG for
    * Mean/WeightedMean.
    */
  val q41RollupMonth: Q = (s, dir) => {
    val day = Calendar.withCalendarAttrs(dailyTss(s, dir), "d")
      .withColumn("tss_avg", col("tss"))
    val specs = Seq(
      ColSpec("tss", "tss", DoubleType, agg = AggMethod.Sum),
      ColSpec("tss_avg", "tss_avg", DoubleType, agg = AggMethod.Mean))
    Rollup.periodic(day, "year_month", "Month", Seq("event_type"), "d", specs)
      .select(col("period"), col("event_type"), col("year_month"), col("d").as("month_end"),
        round(col("tss"), 6).as("tss"), col("tss_avg"))
      .orderBy("event_type", "year_month")
  }

  /** O20 at scale: the PARTITIONED interpolation shape — every
    * event_type's sparse daily series interpolates independently under
    * `Window.partitionBy(event_type)`, so at 100 TB each entity's
    * series is a separate window partition and no executor ever holds
    * more than one series (q21/q22 gate the reference's single-athlete
    * `keys = Nil` case; this gates the keyed form the same operator
    * takes for the multi-entity corpus).
    */
  val q43InterpKeyed: Q = (s, dir) => {
    val daily = ev(s, dir).groupBy("d", "event_type")
      .agg(Exact.davg(col("value")).as("v"))
    val obs = daily.filter(dayofmonth(col("d")) % 7 === 3)
    val spine = Spine.fromData(ev(s, dir).select("d"), "d")
      .crossJoin(ev(s, dir).select("event_type").distinct())
    Interpolate.onto(spine, obs, "d", Seq("v"), keys = Seq("event_type"))
      .select(col("event_type"), col("d"), coalesce(col("v"), lit(0.0)).as("v"))
      .orderBy("event_type", "d")
  }

  /** Join + aggregation over the TPC-H-ish star schema (broadcast dim,
    * shuffle facts): revenue per nation.
    */
  val q12JoinAgg: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .select(col("n_name"), round(col("revenue"), 6).as("revenue"), col("n_items"))
      .orderBy("n_name")
  }

  /** Ranking window: top-3 orders per customer. */
  val q13TopK: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("o_custkey", "rank", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rank")
  }

  /** O20 linear interpolation of a sparse series (0 before first obs,
    * ffill after last, exact at observations).
    */
  val q21Interp: Q = (s, dir) => {
    val daily = ev(s, dir).filter(col("event_type") === "click")
      .groupBy("d").agg(Exact.davg(col("value")).as("v"))
    val obs = daily.filter(dayofmonth(col("d")) % 7 === 3)
    val spine = Spine.fromData(ev(s, dir).select("d"), "d")
    Interpolate.onto(spine, obs, "d", Seq("v"))
      .select(col("d"), coalesce(col("v"), lit(0.0)).as("v"))
      .orderBy("d")
  }

  /** O21 broadcast of the interpolated series onto every cube row. */
  val q22PhysioJoin: Q = (s, dir) => {
    val filled = Spine.gapFill(dailyTss(s, dir), "d", Seq("event_type"), Map("tss" -> 0.0))
    val daily = ev(s, dir).filter(col("event_type") === "click")
      .groupBy("d").agg(Exact.davg(col("value")).as("v"))
    val obs = daily.filter(dayofmonth(col("d")) % 7 === 3)
    val spine = Spine.fromData(ev(s, dir).select("d"), "d")
    val series = Interpolate.onto(spine, obs, "d", Seq("v"))
      .select(col("d"), coalesce(col("v"), lit(0.0)).as("physio"))
    Interpolate.joinByDate(filled, series, "d")
      .select(col("event_type"), col("d"), round(col("tss"), 6).as("tss"), col("physio"))
      .orderBy("event_type", "d")
  }

  // ─────────────────── LLM-pipeline extensions ───────────────────

  /** Exact content dedup: first-wins per sha2(text) group. */
  val q14DedupExact: Q = (s, dir) =>
    docs(s, dir).groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select("keeper", "n_copies")
      .orderBy("keeper")

  /** Exact all-pairs word-3-gram Jaccard (the ground truth the LSH
    * path approximates) on a doc subset.
    */
  val q15Jaccard: Q = (s, dir) => {
    val sh = docs(s, dir).filter(col("doc_id") < 200)
      .select(col("doc_id"), NearDup.shingles(col("text"), 3).as("sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sha"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("shb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("jaccard", NearDup.jaccard(col("sha"), col("shb")))
      .filter(col("jaccard") >= 0.02)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** MinHash+LSH near-dup pairs on a corpus with planted near-dups
    * (each doc unioned with a first-token-dropped mutation, Jaccard
    * ≈0.95). The oracle is the exact-Jaccard pair set — LSH recall at
    * 32 hashes × 8 bands on j≈0.95 pairs is 1−(1−j⁴)⁸ ≈ 1-2e-6, so the
    * sets coincide (verified at both test scale factors).
    */
  val q16MinhashLsh: Q = (s, dir) => {
    NearDup.nearDupPairs(mutantCorpus(s, dir), "doc_id", "text", threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  /** Brute-force exact cosine top-5 (decimal-exact dot products). */
  val q17CosineTopK: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding",
      k = 5, roundDp = -1, exact = true)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "rank")
  }

  /** LSH-bucketed ANN top-5 — the 100 TB path. Hyperplanes are
    * data-derived (vec_id < 6) with decimal-exact sign tests, so the
    * bucketing reproduces in DuckDB and the query is fully
    * oracle-checked (the engine-random variant `lshTopK` stays
    * spec-tested).
    */
  val q20LshAnn: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.lshTopKSeeded(
      emb.filter(col("vec_id") < 50), emb, emb.filter(col("vec_id") < 6),
      "vec_id", "embedding", k = 5)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "rank")
  }

  /** Text analysis: token counts, ratios, quality score, language-ID. */
  val q18Text: Q = (s, dir) => {
    val t = col("text")
    byDocId(docs(s, dir)).select(
      col("doc_id"),
      Text.tokenCount(t).cast("long").as("token_count"),
      Text.bpeishTokenCount(t).as("bpeish_tokens"),
      round(Text.stopwordRatio(t), 6).as("stopword_ratio"),
      round(Text.punctRatio(t), 6).as("punct_ratio"),
      round(Text.meanWordLen(t), 6).as("mean_word_len"),
      round(Text.qualityScore(t), 6).as("quality"),
      Text.langId(t).as("lang_pred")
    ).orderBy("doc_id")
  }

  /** Document fingerprint (position-weighted rolling checksum) via the
    * native codegen'd kernel (graft.functions.FingerprintKernel) — same
    * semantics as the HOF formulation (equivalence is unit-tested),
    * one tight loop instead of a per-character array.
    */
  val q19Fingerprint: Q = (s, dir) => {
    graft.functions.GraftFunctions.register(s)
    docs(s, dir)
      .select(col("doc_id"), call_function("graft_fingerprint", col("text")).as("fp"))
      .orderBy("doc_id")
  }

  /** SimHash-64 fingerprints (rows-only: xxhash64 has no DuckDB twin). */
  /** SimHash fingerprints with the SQL-expressible polynomial token
    * hash (`NearDup.simhashPoly`) — fully oracle-checked; the
    * xxhash64-based `simhash64` stays the production variant
    * (spec-tested bit-identical to its HOF formulation).
    */
  val q23Simhash: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"), NearDup.simhashPoly(col("text")).as("simhash"))
      .orderBy("doc_id")

  /** As-of backward join: each click aligned to the user's most recent
    * preceding error (union-and-sweep, one shuffle — see AsOfJoin).
    * Times compared at µs (both engines truncate the ns source).
    */
  val q25AsOf: Q = (s, dir) => {
    val e = ev(s, dir).withColumn("t", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select("event_id", "user_id", "t")
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("t"), col("value").as("err_value"))
    AsOfJoin.backward(clicks, errors, Seq("user_id"), "t", "t", Seq("err_value"))
      .select("event_id", "user_id", "err_value")
      .orderBy("event_id")
  }

  /** Embedding-cosine near-dup pairs (exact decimal dot products).
    * Two-stage: the cheap double cosine prefilters at threshold−1e-6
    * (double vs exact differ by ≤ ~1e-11, so no qualifying pair can be
    * lost), then the exact similarity is computed and thresholded only
    * on the handful of survivors.
    */
  val q26EmbedDedup: Q = (s, dir) => {
    val n = Tables.embeddings(s, dir).filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding"),
        sqrt(Similarity.dotExact(col("embedding"), col("embedding"))).as("nrm"))
    val a = n.select(col("vec_id").as("id_a"), col("embedding").as("_va"), col("nrm").as("_na"))
    val b = n.select(col("vec_id").as("id_b"), col("embedding").as("_vb"), col("nrm").as("_nb"))
    val den = col("_na") * col("_nb")
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("_fast", when(den > 0,
        Similarity.dot(col("_va"), col("_vb")) / den).otherwise(0.0))
      .filter(col("_fast") >= 0.4 - 1e-6)
      .withColumn("sim", when(den > 0,
        Similarity.dotExact(col("_va"), col("_vb")) / den).otherwise(0.0))
      .filter(col("sim") >= 0.4)
      .select("id_a", "id_b", "sim")
      .orderBy("id_a", "id_b")
  }

  /** Distinct aggregation (SURVEY §2.4): exact COUNT(DISTINCT) per
    * group — Expand-based two-phase distinct under the hood; the
    * approximate path (`approx_count_distinct`) is available but has
    * no cross-engine oracle.
    */
  val q27Distinct: Q = (s, dir) =>
    ev(s, dir).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("users"), count(lit(1)).as("n"))
      .orderBy("event_type")

  /** Tokenize → term frequencies → document frequencies → tf-idf
    * (two groupBys + a broadcast-sized join back). tf and idf's
    * argument are exact integer ratios (bit-identical across engines);
    * only the final log differs by ≤1 ulp → rounded at 6dp. The
    * corpus size N stays IN the plan as a single-row broadcast
    * crossJoin (the q75/q51 scalar pattern) — no driver-side count()
    * job per call; both N and df are exact integers as doubles below
    * 2⁵², so the folded form is bit-identical to the literal it
    * replaced.
    */
  val q28Tfidf: Q = (s, dir) => {
    val sub = docs(s, dir).filter(col("doc_id") < 200)
    val terms = sub.select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
    val docLen = terms.groupBy("doc_id").agg(count(lit(1)).as("doc_len"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nRow = sub.agg(count(lit(1)).as("_nc"))
    tf.join(docLen, "doc_id").join(broadcast(dfreq), "term")
      .crossJoin(broadcast(nRow))
      .select(
        col("doc_id"), col("term"), col("cnt"), col("df"),
        (col("cnt").cast("double") / col("doc_len").cast("double")).as("tf"),
        round((col("cnt").cast("double") / col("doc_len").cast("double")) *
          (log((col("_nc").cast("double") + 1.0) / (col("df").cast("double") + 1.0)) + 1.0), 6
        ).as("tfidf"))
      .orderBy("doc_id", "term")
  }

  /** Multimodal plumbing: opaque binary column + typed metadata. */
  val q24Multimodal: Q = (s, dir) =>
    docs(s, dir).select(
      col("doc_id"),
      length(col("text").cast(BinaryType)).cast("long").as("byte_len"),
      ascii(substring(col("text"), 1, 1)).cast("long").as("first_byte")
    ).orderBy("doc_id")

  /** Skew-safe two-phase salted aggregation (`Salt.saltedAgg`): hot
    * keys spray across 16 deterministic sub-keys, partially aggregate,
    * then merge. Partials stay DECIMAL(38,6) end-to-end, so the
    * two-phase sum is exactly associative — bit-identical to the
    * single-phase sum the oracle runs, at any parallelism and any
    * spray factor.
    */
  val q30Salted: Q = (s, dir) =>
    Salt.saltedAgg(events(s, dir), Seq("event_type"), factor = 16,
      partial = Seq(sum(col("value").cast(DecimalType(38, 6))) -> "_p"),
      merge = Seq("total" -> sum(col("_p")).cast("double")),
      // spray on the unique id: perfect spread AND the scan stays
      // pruned to (event_id, event_type, value)
      sprayCols = Seq("event_id"))
      .orderBy("event_type")

  /** Deterministic stratified sampling: 10% per language stratum,
    * members ranked by content fingerprint — the sample is a pure
    * function of content (stable under row order, file layout and
    * cluster size), and every stratum contributes ceil(0.1·n) rows
    * (proportional allocation without a count pre-pass: the window
    * count rides the same (lang) clustering as the rank).
    */
  val q39Stratified: Q = (s, dir) => {
    val base = docs(s, dir).select(col("doc_id"),
      Text.langId(col("text")).as("lang"),
      graft.functions.FingerprintExpression.fingerprint(col("text")).as("_h"))
    val w = Window.partitionBy("lang").orderBy(col("_h"), col("doc_id"))
    base.withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("lang")))
      .filter(col("_rn") <= ceil(col("_n") * 0.1))
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** Pivot: daily exact value totals, one column per event type. The
    * value list is EXPLICIT — `pivot(col)` without values runs an extra
    * distinct scan of the fact table to discover them, and the column
    * set would depend on the data (non-deterministic schema at scale).
    */
  val q37Pivot: Q = (s, dir) => {
    val types = Seq("click", "view", "purchase", "error", "signup")
    ev(s, dir).groupBy("d")
      .pivot("event_type", types)
      .agg(Exact.dsum(col("value")))
      .na.fill(0.0, types)
      .orderBy("d")
  }

  /** Unpivot (melt): wide per-day type totals back to long form —
    * Spark's native `unpivot` (single pass, no union-of-selects scan
    * per measure).
    */
  val q38Unpivot: Q = (s, dir) => {
    val types = Seq("click", "view", "purchase", "error", "signup")
    val wide = ev(s, dir).groupBy("d")
      .pivot("event_type", types)
      .agg(Exact.dsum(col("value")))
      .na.fill(0.0, types)
    wide.unpivot(Array(col("d")), types.map(col).toArray, "event_type", "total")
      .orderBy("d", "event_type")
  }

  /** Corpus profiling: exact token-count distribution per language
    * (min/max/mean + interpolated p50/p90/p99). Percentile formulas
    * match (classical 1+p·(n−1) linear interpolation on the sorted
    * values) but the engines' interpolation arithmetic can differ in
    * the last ulp → rounded at 6dp per the parity strategy.
    */
  val q36Profile: Q = (s, dir) => {
    val base = docs(s, dir).select(
      Text.langId(col("text")).as("lang"),
      Text.tokenCount(col("text")).cast("long").as("tok"))
    base.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        min(col("tok")).as("min_tok"),
        max(col("tok")).as("max_tok"),
        round(Exact.davg(col("tok")), 6).as("avg_tok"),
        round(expr("percentile(tok, 0.5)"), 6).as("p50"),
        round(expr("percentile(tok, 0.9)"), 6).as("p90"),
        round(expr("percentile(tok, 0.99)"), 6).as("p99"))
      .orderBy("lang")
  }

  /** Deterministic content-hash corpus split (train/valid/test by
    * fingerprint mod 100 — the stable-split primitive of a training
    * pipeline: assignment depends only on content, not on row order,
    * file layout, or cluster size), with per-split doc/token stats.
    */
  val q35Split: Q = (s, dir) => {
    val h = pmod(graft.functions.FingerprintExpression.fingerprint(col("text")), lit(100))
    docs(s, dir)
      .withColumn("split",
        when(h < 80, "train").when(h < 90, "valid").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col("text")).cast("long")).as("total_tokens"))
      .orderBy("split")
  }

  /** Gap-based sessionization (30-min inactivity closes a session):
    * lag-flag + running sum assigns session ids per user, then one
    * aggregate per session. Same (user, time-order) clustering serves
    * both windows and the groupBy — one exchange. Integer-µs
    * arithmetic, deterministic tiebreak by event_id.
    */
  val q34Sessionize: Q = (s, dir) => {
    val gapUs = 1800000000L // 30 min
    val e = events(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    e.withColumn("_new",
        when(lag(col("t"), 1).over(w).isNull ||
          col("t") - lag(col("t"), 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("t")).as("session_start"),
        (max(col("t")) - min(col("t"))).as("duration_us"))
      .orderBy("user_id", "session_id")
  }

  /** Set operations (SURVEY §2.4): INTERSECT (users who clicked AND
    * purchased) and EXCEPT (clicked but never errored) — both
    * shuffle-on-key distinct set ops, tagged and unioned.
    */
  val q33SetOps: Q = (s, dir) => {
    val e = events(s, dir)
    def users(t: String) =
      e.filter(col("event_type") === t).select("user_id").distinct()
    users("click").intersect(users("purchase"))
      .withColumn("tag", lit("click_and_purchase"))
      .unionByName(users("click").except(users("error"))
        .withColumn("tag", lit("click_not_error")))
      .orderBy("tag", "user_id")
  }

  /** Corpus-level near-dup clustering: LSH candidate pairs verified at
    * exact Jaccard ≥ 0.5 (q16's pair set), then connected components
    * with min-id canonical assignment — "keep one document per near-dup
    * cluster". Uses [[Dedup.componentsStar]] (alternating large-star /
    * small-star, O(log n) rounds on any diameter — safe for adversarial
    * boilerplate chains; the min-label `Dedup.components` variant is
    * spec-tested equivalent). Integer-only output; the oracle
    * recomputes reachability with a recursive CTE.
    */
  val q32Components: Q = (s, dir) => {
    val corpus = mutantCorpus(s, dir)
    val pairs = NearDup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.5)
    Dedup.componentsStar(corpus.select("doc_id"), "doc_id", pairs, "id_a", "id_b")
      .select(col("v").as("doc_id"), col("comp").as("canonical_id"))
      .orderBy("doc_id")
  }

  /** Range join (`RangeJoin.pointInInterval`): clicks within the 10
    * minutes preceding each error, same user — binned equi-join, exact
    * BETWEEN on the collision set; oracle is the naive theta join.
    */
  val q31Range: Q = (s, dir) => {
    val e = ev(s, dir).withColumn("t", unix_micros(col("ts")))
    val tenMinUs = 600000000L
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("t"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"),
        (col("t") - tenMinUs).as("lo"), col("t").as("hi"))
    RangeJoin.pointInInterval(clicks, errors, Seq("user_id"),
        "t", "lo", "hi", binWidth = tenMinUs)
      .select("error_id", "click_id", "user_id")
      .orderBy("error_id", "click_id")
  }

  /** IVF ANN with data-derived seed centroids (vec_id < 16), nProbe=4,
    * exact top-5 re-rank — decimal-exact assignment and scoring, so
    * unlike the engine-seeded q20 the whole plan has a DuckDB oracle
    * twin.
    */
  val q29Ivf: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfTopKSeeded(
      emb.filter(col("vec_id") < 50), emb, emb.filter(col("vec_id") < 16),
      "vec_id", "embedding", k = 5, nProbe = 4)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "rank")
  }

  /** Substring-level exact dedup ([[Dedup.substringWindowPairs]]):
    * document pairs sharing an exact 20-token window (the corpus's
    * docs average ~54 tokens, so W=20 plays the role the 50-token
    * window plays on multi-KB web documents), boilerplate capped at
    * df ≤ 16. The oracle rebuilds the inverted index with DuckDB list
    * ops on the raw window STRINGS — so the Spark side's 8-byte
    * hash-key optimization is itself under the gate (any hash
    * collision would change the pair set and fail the hash compare).
    */
  val q42SubstringDedup: Q = (s, dir) =>
    Dedup.substringWindowPairs(docs(s, dir), "doc_id", "text",
        windowTokens = 20, maxDf = 16)
      .orderBy("id_a", "id_b")

  /** Trained IVF: [[Similarity.kmeansCentroidsExact]] — 2 Lloyd's
    * iterations, k=8, init = the 8 lowest-id vectors — emitted as
    * (cell, pos, c) rows. Every arithmetic step is decimal-exact, so
    * the DuckDB oracle unrolls the same two iterations symbolically
    * and the trained model matches BIT-FOR-BIT. Wrong assignment of
    * any single vector would shift a mean and fail the hash gate, so
    * the assignment step is transitively gated too.
    */
  val q44KmeansTrain: Q = (s, dir) => {
    import s.implicits._
    val cents = Similarity.kmeansCentroidsExact(
      Tables.embeddings(s, dir), "vec_id", "embedding", k = 8, iters = 2)
    cents.zipWithIndex.flatMap { case (cv, cell) =>
      cv.zipWithIndex.map { case (x, pos) => (cell.toLong, pos.toLong, x) }
    }.toSeq.toDF("cell", "pos", "c").orderBy("cell", "pos")
  }

  /** Mergeable-sketch distinct counting: per-(lang, source) HLL
    * sketches (Datasketches `hll_sketch_agg`) are UNION-merged per
    * lang and estimated — the 100 TB shape, where each shard/partition
    * ships a fixed-size sketch instead of its raw values and the
    * merge is associative. Gated against the exact distinct count:
    * `within_bounds` asserts the estimate lands within ±5% (HLL
    * lgK=12 rsd ≈ 1.6%, and at these cardinalities the sketch is in
    * exact mode), and the oracle expects TRUE — a wrong sketch merge
    * or estimate fails the hash compare.
    */
  val q45HllDistinct: Q = (s, dir) => {
    val d = docs(s, dir)
    val perSource = d.groupBy("lang", "source")
      .agg(hll_sketch_agg(col("text")).as("_sk"))
    val merged = perSource.groupBy("lang")
      .agg(hll_sketch_estimate(hll_union_agg(col("_sk"))).as("_approx"))
    val exact = d.groupBy("lang").agg(countDistinct(col("text")).as("exact_distinct"))
    exact.join(merged, Seq("lang"))
      .select(col("lang"), col("exact_distinct"),
        (abs(col("_approx") - col("exact_distinct")) <=
          col("exact_distinct") * 0.05).as("within_bounds"))
      .orderBy("lang")
  }

  /** Benchmark-contamination scan ([[Dedup.contamination]]): corpus
    * documents sharing any exact 10-token window with a "benchmark"
    * subset (doc_id % 50 == 0 — stands in for an eval set like MMLU;
    * real benchmark text would arrive as its own table). The benchmark
    * window set is broadcast — at 100 TB the corpus pass is a map-side
    * semi-join, no shuffle of corpus windows. The oracle rebuilds the
    * scan over raw window STRINGS, so the 8-byte hash-key optimization
    * is itself under the gate (q42 argument).
    */
  val q46Contamination: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    // corpus = the non-benchmark originals plus a first-token-dropped
    // mutation of EVERY doc (q16's planted near-dups) — the benchmark
    // docs' mutants are the planted contamination: near-verbatim eval
    // text embedded in a training corpus, the case this scan exists for
    val corpus = d.filter(col("doc_id") % 50 =!= 0).unionByName(
      d.select((col("doc_id") + 100000).as("doc_id"),
        concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000)).as("text")))
    Dedup.contamination(corpus, "doc_id", "text",
        d.filter(col("doc_id") % 50 === 0), "text", windowTokens = 10)
      .orderBy("doc_id")
  }

  /** SemDeDup-style semantic dedup ([[Similarity.semDedup]]): cluster
    * embeddings into 8 cells (seeds = vec_id < 8; at scale, k-means
    * centroids), drop every vector with a smaller-id cell-mate at
    * cosine ≥ 0.4. Output is the full corpus labeled (cell, is_kept) —
    * a wrong cell assignment, a missed pair, or a spurious drop all
    * fail the hash gate.
    */
  val q47SemDedup: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.semDedup(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", threshold = 0.4)
      .orderBy("vec_id")
  }

  /** End-to-end near-dup REMOVAL — the deliverable the q16/q32
    * machinery exists for: LSH candidates → exact-Jaccard verify →
    * connected components ([[Dedup.componentsStar]]) → keep the
    * lowest-id document per cluster. Returns the surviving corpus with
    * its cluster size and token count: `sum(cluster_size) = |corpus|`
    * and `cluster_size > 1` rows are the dedup wins.
    *
    * ORACLE-PARITY PRECONDITION: the engine verifies only LSH
    * candidates while the oracle computes exact all-pairs Jaccard, and
    * this corpus DOES contain pairs in the LSH low-recall band (~40%
    * band-collision mass just above Jaccard 0.5 at 32 hashes/8 bands).
    * Detection is deterministic (fixed xxhash64 seeds), and the gate
    * compares post-clustering SURVIVORS, so it is sound iff every
    * LSH-missed pair is redundant — endpoints already connected via
    * detected edges. `NearDupSimilaritySpec` ("q49 oracle-parity
    * guard") recomputes components over exact all-pairs vs LSH pairs
    * on this exact corpus at the gate SF and FAILS LOUDLY if a corpus
    * change ever plants a cluster-bridging pair LSH misses, instead of
    * letting engine and oracle silently desync.
    */
  val q49DedupE2e: Q = (s, dir) => {
    import graft.core.OpCache.TrackedPersist
    // the corpus feeds THREE consumers (shingling, the vertex list,
    // the final token_count projection) and its mutated half pays a
    // tokenize per materialization — persist once (the same
    // share-don't-recompute contract NearDup's shingle stage applies
    // to its shingle frame)
    val corpus = mutantCorpus(s, dir).persistTracked
    val pairs = NearDup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.5)
    val labels = Dedup.componentsStar(corpus.select("doc_id"), "doc_id",
      pairs, "id_a", "id_b")
    val survivors = labels.groupBy(col("comp").as("doc_id"))
      .agg(count(lit(1)).as("cluster_size"))
    corpus.join(survivors, "doc_id")
      .select(col("doc_id"), col("cluster_size"),
        Text.tokenCount(col("text")).cast("long").as("token_count"))
      .orderBy("doc_id")
  }

  /** PII redaction (training-data scrub): regex email/phone removal
    * with per-doc redaction counts and a sha256 of the scrubbed text
    * (so the oracle gates the exact output string, not just counts).
    * The corpus is synthetic and PII-free, so deterministic contact
    * lines are planted from doc_id (same construction in the oracle)
    * — the regexes are the unit under test. Patterns stay in the
    * RE2 ∩ java.util.regex common dialect (no backrefs/lookaround),
    * codegen'd straight into the scan projection: one pass, no
    * shuffle, trivially 100 TB-safe.
    */
  val q48PiiRedact: Q = (s, dir) => {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phonePat = "\\b555-[0-9]{4}\\b"
    val planted = byDocId(docs(s, dir)).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-"), lpad(col("doc_id") % 10000, 4, "0"))).otherwise(lit(""))
      ).as("_t"))
    planted.select(
        col("doc_id"),
        regexp_count(col("_t"), lit(emailPat)).cast("long").as("n_emails"),
        regexp_count(col("_t"), lit(phonePat)).cast("long").as("n_phones"),
        sha2(regexp_replace(regexp_replace(col("_t"), emailPat, "<EMAIL>"),
          phonePat, "<PHONE>"), 256).as("redacted_sha"))
      .orderBy("doc_id")
  }

  /** Corpus token-length histogram: fixed-width buckets (10 tokens,
    * capped at 190+) — one partial-aggregated groupBy on a ≤20-value
    * key; the length profile that drives quality-filter thresholds.
    */
  val q50TokenHist: Q = (s, dir) =>
    docs(s, dir)
      .select(least(floor(Text.tokenCount(col("text")) / 10), lit(19))
        .cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("bucket_lo", (col("bucket") * 10).cast("long"))
      .select("bucket", "bucket_lo", "n_docs")
      .orderBy("bucket")

  /** Multilingual sampling weights (temperature resampling, à la
    * multilingual pretraining): per-language share p, weight ∝ p^0.3.
    * The pow lands on possibly-1-ulp-different doubles per engine, so
    * it is rounded at 6dp BEFORE the ratio; the normalizer sums those
    * rounded values as DECIMAL (order-independent — parallelism-proof)
    * and the final weight is rounded at 6dp.
    *
    * Both normalizing scalars (corpus size, weight sum) are plan-side
    * broadcast crossJoins of single-row aggregates — ONE submitted job,
    * no driver actions inside query construction. The corpus total is
    * re-aggregated from the per-language counts (model-sized), not a
    * second corpus scan.
    */
  val q51LangWeights: Q = (s, dir) => {
    val perLang = docs(s, dir).groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val total = perLang.agg(sum(col("n_docs")).as("_total"))
    val pw = perLang.crossJoin(broadcast(total))
      .withColumn("_pw",
        round(pow(col("n_docs").cast("double") / col("_total").cast("double"), 0.3), 6))
    val wsum = pw.agg(
      sum(col("_pw").cast(DecimalType(38, 6))).cast("double").as("_wsum"))
    pw.crossJoin(broadcast(wsum))
      .select(col("lang"), col("n_docs"),
        round(col("_pw") / col("_wsum"), 6).as("weight"))
      .orderBy("lang")
  }

  /** Incremental corpus-update dedup: a "new crawl" (the doc_id ≥ 100
    * tail plus exact re-crawls of 50 already-seen docs) anti-joined by
    * content sha256 against the seen corpus — only genuinely new
    * content survives. The anti-join shuffles on the uniform digest
    * (no skew); at 100 TB the seen side compacts to a digest-only
    * table (or a bloom-filter pre-filter in front of the same join).
    */
  val q52IncrementalDedup: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val seen = d.filter(col("doc_id") < 100)
    val fresh = d.filter(col("doc_id") >= 100).unionByName(
      d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    fresh.withColumn("_h", sha2(col("text"), 256))
      .join(seen.select(sha2(col("text"), 256).as("_h")), Seq("_h"), "left_anti")
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** Within-document repetition signals (Gopher-style quality rules:
    * Rae et al. 2021 §A1.1): duplicate-2-gram fraction and top-token
    * fraction. Tokens are materialized as a column FIRST — lambda
    * (HOF) expressions are excluded from Spark's subexpression
    * elimination, so referencing `Text.tokens(text)` from each metric
    * would re-split the text per metric. Both ratios are exact integer
    * divisions — deterministic cross-engine with no rounding.
    */
  val q53Repetition: Q = (s, dir) => {
    val t = docs(s, dir).select(col("doc_id"), Text.tokens(col("text")).as("_tk"))
    // sequence(1, n-1) would infer a NEGATIVE step for n = 1 — guard
    val g2 = when(size(col("_tk")) >= 2,
      transform(sequence(lit(1), size(col("_tk")) - 1),
        i => concat_ws(" ", slice(col("_tk"), i, lit(2)))))
      .otherwise(array().cast("array<string>"))
    val dup = t.select(col("doc_id"), g2.as("_g2"))
      .select(col("doc_id"),
        when(size(col("_g2")) > 0,
          (size(col("_g2")) - size(array_distinct(col("_g2")))).cast("double") /
            size(col("_g2")).cast("double")).otherwise(0.0).as("dup_2gram_ratio"))
    val tf = t.select(col("doc_id"), explode(col("_tk")).as("_term"))
      .groupBy("doc_id", "_term").agg(count(lit(1)).as("_cnt"))
    val top = tf.groupBy("doc_id")
      .agg((max(col("_cnt")).cast("double") / sum(col("_cnt")).cast("double"))
        .as("top_token_ratio"))
    dup.join(top, "doc_id").orderBy("doc_id")
  }

  /** Training-mix report — the composition a pipeline owner actually
    * reads: q35's deterministic content-hash split × language, with
    * doc counts, token totals, and each language's token share within
    * its split (exact-integer ratio — deterministic division, no
    * parity rounding needed; rounded 6dp only for display stability).
    */
  val q54MixReport: Q = (s, dir) => {
    val h = pmod(graft.functions.FingerprintExpression.fingerprint(col("text")), lit(100))
    val base = docs(s, dir).select(
      when(h < 80, "train").when(h < 90, "valid").otherwise("test").as("split"),
      col("lang"), Text.tokenCount(col("text")).cast("long").as("_tok"))
    val g = base.groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("_tok")).as("total_tokens"))
    g.withColumn("token_share",
        round(col("total_tokens").cast("double") /
          sum(col("total_tokens")).over(Window.partitionBy("split")).cast("double"), 6))
      .orderBy("split", "lang")
  }

  /** Cell-purity diagnostic ([[Similarity.assignCells]] + the
    * embeddings `label` column): per cell — member count, majority
    * label (ties → lowest label) and purity. The report a pipeline
    * owner reads to judge whether IVF cells / SemDeDup clusters track
    * the label structure. Exact-int purity ratio; two partial-agg
    * groupBys sharing the cell clustering.
    */
  val q55CellPurity: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val assign = Similarity.assignCells(emb, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding")
    val l = assign.join(emb.select("vec_id", "label"), "vec_id")
      .groupBy("cell", "label").agg(count(lit(1)).as("_c"))
    l.groupBy("cell")
      .agg(sum(col("_c")).as("n_vecs"),
        max(struct(col("_c").as("_n"), (-col("label")).as("_negl"))).as("_m"))
      .select(col("cell"), col("n_vecs"),
        (-col("_m._negl")).as("top_label"),
        (col("_m._n").cast("double") / col("n_vecs").cast("double")).as("purity"))
      .orderBy("cell")
  }

  /** Tumbling event-time window aggregation — Spark's native
    * `window()` (the batch twin of the Structured Streaming windowed
    * agg in `streaming/StreamingLoad`): hourly per-type counts and
    * decimal-exact value totals. Session timezone is pinned UTC, so
    * the hour buckets are engine-independent; oracle = DuckDB
    * `time_bucket`.
    */
  val q56Tumbling: Q = (s, dir) => {
    val e = events(s, dir)
    e.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("total"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("total"))
      .orderBy("hour_start", "event_type")
  }

  /** Multimodal frame sampling under the oracle gate: fixed-stride
    * byte windows over the opaque binary payload (text cast to binary
    * stands in — the container ships no codecs), one row per full
    * frame with its md5. This gates the declarative frame-sample
    * SHAPE — binary slicing, per-frame fan-out, per-frame digest —
    * while `Multimodal.sampleFrames` (FakeCodec, mapPartitions
    * batching) stays the production variant for real codec calls.
    * Only FULL frames are emitted (start+15 ≤ len): partial-frame
    * clipping is the one place engine substring semantics could
    * diverge.
    */
  val q57FrameSample: Q = (s, dir) => {
    val stride = 32
    val frameLen = 16
    val bin = col("_bin")
    docs(s, dir)
      .select(col("doc_id"), col("text").cast(BinaryType).as("_bin"))
      .select(col("doc_id"), bin,
        posexplode(sequence(lit(0), lit(3))).as(Seq("_ord", "frame_idx")))
      .filter(col("frame_idx") * stride + frameLen <= length(bin))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        md5(substr(bin, col("frame_idx") * stride + 1, lit(frameLen)))
          .as("frame_md5"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Mergeable quantile-sketch profiling — the 100 TB twin of q36's
    * exact percentiles: `percentile_approx` (Greenwald–Khanna summary,
    * a TypedImperativeAggregate with partial merge) profiles the
    * token-length distribution per language WITHOUT the per-group full
    * sort/buffer that exact `percentile` needs. Gated on the q45 HLL
    * pattern: sketch values themselves are merge-order-dependent, so
    * the query emits deterministic error-bound BOOLEANS and the oracle
    * expects them all true. The bound is the tie-safe RANK check — a
    * correct p-quantile value v satisfies #(tok < v)/n ≤ p ≤
    * #(tok ≤ v)/n; at accuracy 10000 the sketch's rank error is
    * 10⁻⁴·n, asserted with a 0.01 margin (100× slack, yet any real
    * sketch misuse — wrong percentile array index, swapped bounds,
    * unmerged partials — lands far outside it). Value-space deltas
    * are NOT asserted: token counts tie heavily, and with ties a
    * correct sketch value can sit arbitrarily far from the
    * interpolated exact percentile in value space while being exact
    * in rank space.
    */
  val q58QuantileSketch: Q = (s, dir) => {
    val base = docs(s, dir).select(
      Text.langId(col("text")).as("lang"),
      Text.tokenCount(col("text")).cast("long").as("tok"))
    val ap = base.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      percentile_approx(col("tok"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("_ap"))
    def rankOk(i: Int, p: Double): Column = {
      val n = max(col("n_docs")).cast("double")
      val lt = sum(when(col("tok") < col("_ap")(i), 1L).otherwise(0L)).cast("double")
      val le = sum(when(col("tok") <= col("_ap")(i), 1L).otherwise(0L)).cast("double")
      (lt / n <= lit(p + 0.01)) && (le / n >= lit(p - 0.01))
    }
    base.join(broadcast(ap), "lang")
      .groupBy("lang")
      .agg(max(col("n_docs")).as("n_docs"),
        rankOk(0, 0.5).as("ok_p50"),
        rankOk(1, 0.9).as("ok_p90"),
        rankOk(2, 0.99).as("ok_p99"))
      .orderBy("lang")
  }

  /** Bloom-pre-filtered incremental dedup — q52's promise kept: at
    * 100 TB the "seen" digest table is itself huge, so shuffling EVERY
    * fresh row into the anti-join is waste when most of the crawl is
    * genuinely new. The seen digests aggregate into a bloom filter
    * delivered as a SCALAR SUBQUERY (one bitmap per task, the
    * InjectRuntimeFilter mechanism); rows the filter rejects are
    * DEFINITELY unseen (no false negatives) and bypass the join
    * entirely — only the might-contain sliver (true dups + ~2% false
    * positives) pays the exact sha256 anti-join, which keeps the
    * result exact. Survivors are IDENTICAL to q52 by construction,
    * and the oracle (same SQL as q52) gates exactly that.
    */
  val q59BloomIncremental: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val seen = d.filter(col("doc_id") < 100).select(sha2(col("text"), 256).as("_h"))
    val fresh = d.filter(col("doc_id") >= 100).unionByName(
        d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .withColumn("_h", sha2(col("text"), 256))
    val bloom = seen
      .agg(graft.functions.Bloom.bloomFilterAgg(col("_h"),
        expectedItems = 1000000L, numBits = 8388608L).as("_bf"))
      .scalar()
    val flagged = fresh.withColumn("_cand",
      graft.functions.Bloom.mightContain(bloom, col("_h")))
    flagged.filter(!col("_cand")).select("doc_id")
      .unionByName(flagged.filter(col("_cand"))
        .join(seen, Seq("_h"), "left_anti").select("doc_id"))
      .orderBy("doc_id")
  }

  /** The sink runner every bounded gate stream goes through: one
    * `Trigger.AvailableNow` drain of `stream` into the writer `sink`
    * configures, from a fresh checkpoint at `$tmp/chk` that is dropped
    * afterwards — only the sink is ever read again. The fixture input
    * is memoized ([[memoFixture]]) and never dropped here.
    *
    * State partitions are clamped for the run to
    * min(4, defaultParallelism): a streaming query creates one state
    * store per shuffle partition and pays a commit per store per
    * micro-batch, so at the harness's 32 partitions the fixed latency
    * is 32 stores × 2+ batches for fixtures holding a few hundred keys
    * (measured 2.9 s → ~1 s for q60 at 8 threads, far worse at 32).
    * That is a bounded-gate-run default, NOT an operator constant: a
    * deployment calling the [[graft.streaming]] operators sizes its
    * session conf to its key cardinality ÷ target store size, and the
    * first micro-batch pins the choice into the checkpoint. Results
    * are partition-count-invariant (the gate's hash compare would
    * catch anything else).
    *
    * The conf override mutates SESSION-GLOBAL state with try/finally
    * restore — safe only because the harness runs queries strictly
    * sequentially on the shared session. Concurrent query execution
    * would need SparkSession.newSession()-scoped isolation instead.
    *
    * @param needsFlushBatch whether the query's EMISSION depends on a
    *        trailing no-data micro-batch (watermark-gated append
    *        output: windowed/session aggs). Operators that emit
    *        in-batch — `dropDuplicatesWithinWatermark` (first
    *        occurrence rides the data batch; the flush batch only
    *        EVICTS state), stream-stream INNER joins (matches emit
    *        eagerly), NoTimeout `flatMapGroupsWithState`, stateless
    *        projections and per-batch serves — pass false and skip the
    *        batch: its state-store + sink-commit round is pure
    *        per-query startup tax in a bounded AvailableNow run whose
    *        checkpoint is dropped anyway (an unbounded deployment
    *        keeps the default — eviction is what caps state there).
    */
  private def runToSink(stream: DataFrame, tmp: String, needsFlushBatch: Boolean)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val s = stream.sparkSession
    val confs = Seq(
      "spark.sql.shuffle.partitions" ->
        math.min(4, s.sparkContext.defaultParallelism).toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> needsFlushBatch.toString)
    val prev = confs.map { case (k, _) => k -> s.conf.get(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try sink(stream.writeStream).option("checkpointLocation", s"$tmp/chk")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    finally {
      prev.foreach { case (k, v) => s.conf.set(k, v) }
      Scratch.drop(s"$tmp/chk")
    }
  }

  /** [[runToSink]] into an append-mode parquet sink at `$tmp/out`,
    * read back as the result.
    */
  private def appendToSink(stream: DataFrame, tmp: String,
      needsFlushBatch: Boolean): DataFrame = {
    runToSink(stream, tmp, needsFlushBatch)(
      _.format("parquet").option("path", s"$tmp/out").outputMode("append"))
    stream.sparkSession.read.parquet(s"$tmp/out")
  }

  /** The memoized `fixture` streamed back from its parquet copy. */
  private def fixtureStream(key: String, dir: String, fixture: DataFrame): DataFrame =
    fixture.sparkSession.readStream.schema(fixture.schema)
      .parquet(memoFrame(key, dir, fixture))

  /** A streaming gate query's bounded run: `fixture` is written once
    * per process under memo `key` (building it must launch no job —
    * the frame is built on every call, the write happens once), `op`
    * is applied to it as a file stream, and the append sink is read
    * back ([[runToSink]], [[appendToSink]]).
    */
  private[queries] def streamGate(key: String, dir: String, fixture: DataFrame,
      needsFlushBatch: Boolean = false)(op: DataFrame => DataFrame): DataFrame =
    appendToSink(op(fixtureStream(key, dir, fixture)), Scratch.fresh(key),
      needsFlushBatch)

  /** A per-micro-batch serve over the memoized `fixture` (a query
    * stream): each trigger's rows go through `serve` and the result
    * lands in [[serveBatch]]'s per-batchId directory; the directories
    * are read back recursively as the result.
    */
  private[queries] def streamServe(key: String, dir: String, fixture: DataFrame)(
      serve: DataFrame => Option[DataFrame]): DataFrame = {
    val tmp = Scratch.fresh(key)
    runToSink(fixtureStream(key, dir, fixture), tmp, needsFlushBatch = false)(
      _.foreachBatch(serveBatch(s"$tmp/out", serve) _))
    fixture.sparkSession.read.option("recursiveFileLookup", "true").parquet(s"$tmp/out")
  }

  /** One serve micro-batch: per-batchId subdirectory + overwrite is
    * IDEMPOTENT on the at-least-once retry foreachBatch offers (a
    * re-executed micro-batch rewrites its own directory instead of
    * appending duplicate rows); the batch's cached operator state is
    * released before the next trigger.
    */
  private[queries] def serveBatch(out: String, serve: DataFrame => Option[DataFrame])(
      batch: DataFrame, batchId: Long): Unit = {
    serve(batch).foreach(_.write.mode("overwrite").parquet(s"$out/b$batchId"))
    graft.core.OpCache.release()
  }

  /** Process-level memo of streaming INPUT fixtures. Each streaming
    * query derives its input parquet from the corpus dir with a PURE
    * batch job, then streams it — and a bench run re-derives the
    * identical fixture every iteration of every query, so the fixture
    * jobs (an agg + a write, ~1 s each at sf0.1) were pure startup
    * tax, ~half the streaming subtotal. One copy per (key, corpus
    * dir) now serves the whole process: the memoized dir lives under
    * [[Scratch]]'s JVM-exit root and is never dropped by
    * [[runToSink]], while checkpoints and sinks stay per-call — each
    * iteration still runs the full micro-batch pipeline from a cold
    * offset log, so what the bench measures is the streaming runtime,
    * not redundant fixture prep. The memo key includes the corpus
    * dir: Verify (sf0.01) and Bench (sf0.1) in one JVM never share
    * fixtures.
    */
  private val fixtureMemo = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def memoFixture(key: String, dir: String)(write: String => Unit): String =
    fixtureMemo.computeIfAbsent(s"$key|$dir", _ => {
      val p = Scratch.fresh(key)
      write(p)
      p
    })

  /** [[memoFixture]] of a frame written as parquet. */
  private[queries] def memoFrame(key: String, dir: String, fixture: DataFrame): String =
    memoFixture(key, dir)(fixture.write.mode("overwrite").parquet(_))

  /** Structured Streaming under the oracle gate — the real streaming
    * runtime (file source → watermarked windowed agg → append-mode
    * file sink), not a batch fallback: events are copied to a temp
    * dir, streamed through [[graft.streaming.StreamingLoad
    * .dailyAggregate]] with `Trigger.AvailableNow`, and the SINK's
    * parquet is read back as the result. Oracle = the batch daily-sum
    * SQL, so the gate proves stream-batch parity of the day totals
    * (decimal-exact sums — bit-identical at any parallelism).
    *
    * Append-mode flush mechanics: a watermarked aggregation only
    * emits a window once the watermark passes its end, and the
    * watermark only advances between micro-batches — so a bounded
    * stream's last windows would stay in the state store forever. A
    * SENTINEL event far beyond the corpus horizon (fixed 2030-01-01,
    * no driver-side max(ts) action needed) rides in the single data
    * micro-batch; the trailing no-data batch (noDataMicroBatches,
    * default on) then sees watermark = sentinel − lateness > every
    * real window end and flushes them all. The sentinel's own window
    * never passes the watermark, so it stays in state and never
    * reaches the sink — no output filtering required. All files land
    * in one data batch (no maxFilesPerTrigger limit), so no real
    * event can be dropped as late by the sentinel's watermark.
    */
  val q60StreamingDaily: Q = (s, dir) => {
    val e = events(s, dir).select(
      col("event_id"), col("ts"), col("event_type"), col("value"))
    val sentinel = s.range(1).select(
      lit(-1L).as("event_id"),
      lit("2030-01-01 00:00:00").cast("timestamp").as("ts"),
      lit("__sentinel").as("event_type"), lit(0.0).as("value"))
    streamGate("q60in", dir, e.unionByName(sentinel), needsFlushBatch = true)(
        graft.streaming.StreamingLoad.dailyAggregate(_, "ts", Seq("event_type"), "value"))
      .select(col("date").as("d"), col("event_type"), col("tss"))
      .orderBy("d", "event_type")
  }

  /** Int8-quantized EXACT cosine top-k ([[Similarity.quantizedTopK]])
    * — q17's answer through the compressed scan path: the |Q|×|C|
    * pair pass reads 4× smaller byte arrays and integer dot products,
    * the rigorous quantization-error band keeps a superset of the
    * exact top-k, and only that sliver pays the decimal-exact
    * re-score. Same oracle as q17 — the gate proves the quantized
    * path loses NOTHING.
    */
  val q61QuantizedAnn: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.quantizedTopK(
      emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding",
      k = 5, roundDp = -1)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "rank")
  }

  /** Structured Streaming exact dedup under the oracle gate (q60
    * pattern): q52's fresh crawl (new docs + re-crawled copies) is
    * written to a temp dir, streamed through [[graft.streaming
    * .StreamingDedup.exactByHash]] (file source → watermark →
    * dropDuplicatesWithinWatermark on the content sha256 → append
    * parquet sink, Trigger.AvailableNow), and the SINK is read back.
    * Which duplicate row is emitted is arrival-order-dependent, so
    * the gate projects the deterministic invariant: the emitted
    * CONTENT-HASH SET — exactly one row per distinct sha256, equal to
    * DuckDB's `SELECT DISTINCT sha256(text)`. No sentinel is needed:
    * dedup emits first occurrences in the same micro-batch (state
    * only holds back later duplicates), unlike q60's windowed agg.
    */
  val q62StreamingDedup: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val fresh = d.filter(col("doc_id") >= 100).unionByName(
        d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .withColumn("ts", lit("2021-01-01 00:00:00").cast("timestamp"))
    streamGate("q62in", dir, fresh)(
        graft.streaming.StreamingDedup.exactByHash(_, "ts", "text"))
      .select(sha2(col("text"), 256).as("h")).orderBy("h")
  }

  /** Structured Streaming contamination scan under the oracle gate:
    * q46's corpus (originals + first-token-dropped mutants, the
    * planted eval-set leaks) streams through [[graft.streaming
    * .StreamingContamination.contaminatedIds]] — stream-static
    * broadcast semi-join against the static benchmark window hashes,
    * then watermark-keyed emit-once per doc id — into an append
    * parquet sink. The emitted ID SET is deterministic (ids are
    * unique in the corpus; only arrival ORDER varies), so the gate
    * compares ids against the batch contamination oracle.
    */
  val q63StreamingContamination: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val corpus = d.filter(col("doc_id") % 50 =!= 0).unionByName(
        d.select((col("doc_id") + 100000).as("doc_id"),
          concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000)).as("text")))
      .withColumn("ts", lit("2021-01-01 00:00:00").cast("timestamp"))
    streamGate("q63in", dir, corpus)(
        graft.streaming.StreamingContamination.contaminatedIds(_,
          "doc_id", "ts", "text",
          d.filter(col("doc_id") % 50 === 0), "text", windowTokens = 10))
      .select("doc_id").orderBy("doc_id")
  }

  /** The custom-state streaming operator ([[graft.streaming
    * .StreamingLoad.ewma]], flatMapGroupsWithState) under the oracle
    * gate — the third and last streaming path to graduate from
    * spec-only parity. The intended two-query deployment (watermarked
    * daily agg → day-grain sink → incremental EWMA) is materialized
    * literally: the batch daily aggregate is written to a temp dir
    * and STREAMED through the EWMA operator into an append sink.
    * Within a trigger batch each key folds in date order and gap days
    * decay with tss = 0, so the emitted series is bit-identical to
    * the batch spine-filled fold — the oracle is q09's recursive CTE
    * restricted to days present in the daily aggregate (zero-filled
    * gap days only DECAY state on the streaming side, they don't
    * emit; decaying a zero state through leading spine days is still
    * zero, so initial conditions agree too).
    */
  val q64StreamingEwma: Q = (s, dir) => {
    val daily = graft.streaming.StreamingLoad.dailyAggregate(
      events(s, dir).select(col("ts"), col("event_type"), col("value")),
      "ts", Seq("event_type"), "value")
    import s.implicits._
    streamGate("q64in", dir, daily) { stream =>
      graft.streaming.StreamingLoad.ewma(stream
        .select(col("event_type").as("key"),
          datediff(col("date"), lit("1970-01-01").cast("date")).cast("long").as("epochDay"),
          col("tss"))
        .as[graft.streaming.StreamingLoad.DailyRow]).toDF()
    }.select(col("key").as("event_type"),
        date_add(lit("1970-01-01").cast("date"), col("epochDay").cast("int")).as("d"),
        col("tss"),
        round(col("ctl"), 6).as("ctl"),
        round(col("atl"), 6).as("atl"),
        round(col("tsb"), 6).as("tsb"))
      .orderBy("event_type", "d")
  }

  /** Corpus snapshot diff ([[Dedup.corpusDiff]]): two simulated crawl
    * versions of the documents table — v2 drops the doc_id % 7 == 0
    * slice of v1's range, adds the % 10 == 0 slice v1 lacked, and
    * edits every % 5 == 0 text — classified added / removed /
    * changed / unchanged by content digest. The join carries only
    * (id, sha256), never document bodies.
    */
  val q65CorpusDiff: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val v1 = d.filter(col("doc_id") % 10 =!= 0)
    val v2 = d.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    Dedup.corpusDiff(v1, v2, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** ORC sink/source roundtrip under the gate — the other columnar
    * format the bundled runtime ships (no extra deps): docs →
    * lang-partitioned ORC write → read back → per-lang aggregate
    * with content digests. A corrupted encode/decode, a dropped
    * partition directory, or type mangling through the partition
    * column all fail the hash gate (the oracle aggregates the
    * ORIGINAL parquet — the ORC hop must be lossless).
    */
  val q66OrcRoundtrip: Q = (s, dir) => {
    val tmp = Scratch.fresh("q66")
    docs(s, dir).select("doc_id", "lang", "n_chars", "text")
      .write.mode("overwrite").partitionBy("lang").orc(tmp)
    s.read.orc(tmp)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        min(sha2(col("text"), 256)).as("min_h"),
        max(sha2(col("text"), 256)).as("max_h"))
      .orderBy("lang")
  }

  /** CSV source with PERMISSIVE quarantine under the gate (q40's
    * self-contained fixture pattern — the driver corpus is parquet,
    * so the fixture rows live in [[Fixtures.q67CsvLines]] and the
    * oracle inlines them as VALUES). Line 5's km is not a number:
    * PERMISSIVE parks the raw line in the quarantine column instead
    * of killing the job (FAILFAST) or silently dropping it
    * (DROPMALFORMED); the clean rows and the quarantined COUNT are
    * both under the hash gate.
    */
  val q67CsvRoundtrip: Q = (s, _) => {
    val base = java.nio.file.Paths.get(Scratch.fresh("q67_"))
    java.nio.file.Files.write(base.resolve("diary.csv"),
      Fixtures.q67CsvLines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = StructType(Seq(
      StructField("date", StringType),
      StructField("activity", StringType),
      StructField("km", DoubleType),
      StructField("minutes", LongType)))
    val raw = DelimitedSource.csv(s, base.resolve("diary.csv").toString, schema)
    val (clean, bad) = DelimitedSource.quarantine(raw)
    clean
      .select(to_date(col("date")).as("d"), col("activity"), col("km"), col("minutes"))
      .crossJoin(broadcast(bad.agg(count(lit(1)).as("n_quarantined"))))
      .orderBy("d")
  }

  /** Sliding event-time windows — q56's tumbling twin with overlap:
    * native `window(ts, "2 hours", "1 hour")` assigns every event to
    * exactly duration/slide = 2 windows (starts aligned to the slide
    * grid), the shape behind overlapping-horizon monitoring aggs.
    * The oracle reproduces the fan-out explicitly: each event joins
    * offsets {0,1} and buckets to hour_floor − offset. Decimal-exact
    * sums make the double result bit-identical under the 2× expand.
    */
  val q68SlidingWindows: Q = (s, dir) => {
    val e = events(s, dir)
    e.groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("total"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("total"))
      .orderBy("ws", "event_type")
  }

  /** Native session windows under the streaming oracle gate — the
    * last spec-only streaming operator ([[graft.streaming.Sessionize
    * .sessions]]) graduates: events + a far-future sentinel stream
    * through `session_window` (watermarked, append parquet sink,
    * AvailableNow); the trailing no-data batch sees watermark =
    * sentinel − lateness > every real session's close and flushes
    * them all (q60 mechanics — session windows, like windowed aggs,
    * hold output until the watermark passes). The sentinel's key is
    * max(user_id)+1 — DERIVED, not a reserved constant, so it can
    * never collide with (and merge into) a real user's session no
    * matter what ids the corpus carries; its own session stays in
    * state and never reaches the sink. Semantics note:
    * `session_window` starts a NEW session at gap ≥ 30 min (strict),
    * where q34's batch lag-flag splits at > 30 min — the oracle here
    * uses the strict form, so the exact boundary behavior is itself
    * under the gate.
    */
  val q69StreamingSessionize: Q = (s, dir) => {
    val e = events(s, dir).select(col("user_id"), col("ts"))
    val sentinel = s.range(1).select(
      (e.agg(coalesce(max("user_id"), lit(0L))).scalar() + 1L).as("user_id"),
      lit("2030-01-01 00:00:00").cast("timestamp").as("ts"))
    streamGate("q69in", dir, e.unionByName(sentinel), needsFlushBatch = true)(
        graft.streaming.Sessionize.sessions(_, "ts", Seq("user_id"),
          gap = "30 minutes", lateness = "1 hour"))
      .select(col("user_id"), col("n_events"),
        unix_micros(col("session_start")).as("session_start"),
        col("duration_us"))
      .orderBy("user_id", "session_start")
  }

  /** Mergeable heavy-hitters ([[graft.functions.MisraGries]], q45/q58
    * sketch-gating pattern): top-token frequencies WITHOUT a
    * full-vocabulary groupBy — each partition reduces to a ≤16-entry
    * summary before the (single-row) merge. The sketch estimates are
    * processing-order-dependent inside the Misra-Gries band, so the
    * gate emits deterministic BOOLEANS: for each exact top-10 token
    * (computed alongside as the small-scale oracle), the estimate
    * must sit in [count − n/17, count]. Any broken reduce/merge step
    * (dropped decrement, unmerged partial, off-by-one cut) lands
    * outside the band and fails the hash gate; the exact top-10
    * identities/counts are themselves gated too.
    */
  val q70HeavyHitters: Q = (s, dir) => {
    val toks = docs(s, dir).select(explode(Text.tokens(col("text"))).as("tok"))
    val sketch = toks.agg(
      graft.functions.HeavyHitters.misraGries(16)(col("tok")).as("_mg"),
      count(lit(1)).as("_n"))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(10)
    // try_element_at, not element_at: under ANSI mode a map miss
    // throws, and Misra-Gries only guarantees presence for tokens
    // with count > n/(capacity+1) — a light top-10 token (flatter
    // corpus) must fall through to the 0 estimate, not crash
    top.crossJoin(broadcast(sketch))
      .select(col("tok"), col("cnt"),
        ((col("cnt") - coalesce(try_element_at(col("_mg"), col("tok")), lit(0L)))
          .cast("double") <= col("_n").cast("double") / 17.0).as("ok_lower"),
        (coalesce(try_element_at(col("_mg"), col("tok")), lit(0L)) <= col("cnt"))
          .as("ok_upper"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** MERGE-style incremental upsert — the reference's UPDATE-by-key
    * (pop:178-184) at warehouse scale: instead of functionally
    * recomputing the whole table (q22's answer) or rewriting every
    * partition, a day's correction batch rewrites ONLY that day's
    * partition directory. Mechanics under the gate:
    *  (1) the events table is laid out as date-PARTITIONED parquet
    *      (the 100 TB layout);
    *  (2) the target day is read back partition-PRUNED (only that
    *      directory's files are scanned);
    *  (3) MERGE = full-outer join target-day × updates on the key,
    *      COALESCE update-over-existing per column — matched rows are
    *      corrected (value+10), unmatched updates are inserted (new
    *      arrivals), unmatched targets pass through;
    *  (4) the merged day lands via DYNAMIC partition overwrite — only
    *      partitions present in the written frame are replaced, every
    *      other day's directory is untouched (staged to a scratch dir
    *      first: Spark refuses a plan that overwrites a path it is
    *      reading).
    * The gate digests the WHOLE warehouse per day (count + exact value
    * sum + ts/id sums), so a bad coalesce, a lost arrival, AND a
    * clobbered untouched partition all fail the hash compare.
    */
  val q71MergeUpsert: Q = (s, dir) => {
    val tmp = Scratch.fresh("q71")
    val e = events(s, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"),
        to_date(col("ts")).as("d"))
    // cluster rows by partition key before the partitioned write: each
    // task then writes whole day directories (1 file/day) instead of
    // every task spraying a sliver into every day — 30 files, not
    // tasks×30. Same rows, same digests; at 100 TB this is the
    // difference between |days| files and |tasks|·|days| small files.
    e.repartition(col("d"))
      .write.mode("overwrite").partitionBy("d").parquet(s"$tmp/wh")

    // deterministic target day: the earliest (driver-side scalar — at
    // scale this is partition-listing metadata, not a data scan)
    val day = e.agg(min("d")).head.getDate(0)
    val corrections = e
      .filter(col("d") === lit(day) && col("event_id") % 7 === 0)
      .select(col("event_id"), col("ts"), col("event_type"),
        (col("value") + 10).as("value"), col("d"))
    val arrivals = e
      .filter(col("d") === lit(day) && col("event_id") % 11 === 0)
      .select((col("event_id") + 1000000L).as("event_id"), col("ts"),
        lit("correction").as("event_type"), lit(1.5).as("value"), col("d"))
    val updates = corrections.unionByName(arrivals)
      .select(col("event_id").as("_u_id"), col("ts").as("_u_ts"),
        col("event_type").as("_u_type"), col("value").as("_u_value"),
        col("d").as("_u_d"))

    val target = s.read.parquet(s"$tmp/wh").filter(col("d") === lit(day))
    val merged = target
      .join(updates, col("event_id") === col("_u_id"), "full_outer")
      .select(
        coalesce(col("event_id"), col("_u_id")).as("event_id"),
        coalesce(col("_u_ts"), col("ts")).as("ts"),
        coalesce(col("_u_type"), col("event_type")).as("event_type"),
        coalesce(col("_u_value"), col("value")).as("value"),
        coalesce(col("d"), col("_u_d")).as("d"))
    merged.write.mode("overwrite").parquet(s"$tmp/stage")

    // session-global conf with try/finally restore — safe only under
    // the harness's strictly-sequential query execution (runToSink
    // note); concurrent runs would need newSession()-scoped isolation
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      s.read.parquet(s"$tmp/stage").repartition(col("d"))
        .write.mode("overwrite").partitionBy("d").parquet(s"$tmp/wh")
    } finally prev match {
      case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    Scratch.drop(s"$tmp/stage")

    s.read.parquet(s"$tmp/wh")
      .groupBy("d")
      .agg(count(lit(1)).as("n_events"),
        Exact.dsum(col("value")).as("total"),
        sum(unix_micros(col("ts"))).as("ts_us_sum"),
        sum(col("event_id")).as("id_sum"))
      .orderBy("d")
  }

  /** Z-order clustered layout under the oracle gate — the multi-dim
    * locality primitive for a warehouse that must serve range
    * predicates on TWO dimensions (user_id AND day) from one file
    * layout (Delta/Iceberg OPTIMIZE ZORDER technique; Morton 1966).
    * Mechanics under the gate:
    *  (1) events get 16-bit bucket dims x = user_id mod 2^16 and
    *      y = days-since-epoch mod 2^16;
    *  (2) [[ZOrder.writeClustered]] range-sorts by the interleaved
    *      Morton key and writes parquet — every output file spans a
    *      contiguous z-range, i.e. a tight (x, y) bounding box for
    *      per-file min/max pruning (ZOrderSpec asserts the boxes
    *      actually tighten on BOTH dimensions vs a one-dim sort);
    *  (3) the gate reads the clustered files back, RECOMPUTES the
    *      Morton key from the roundtripped columns, and digests
    *      content + z per event_type — so a lossy roundtrip and any
    *      drift in the bit-interleave arithmetic both fail the hash
    *      compare (the oracle re-derives z in pure ANSI/DuckDB bit
    *      ops from the ORIGINAL parquet).
    * All key math is integer Column arithmetic — whole-stage
    * codegen'd, no UDF; the write is `repartitionByRange` +
    * `sortWithinPartitions`, never a single-task global sort.
    */
  val q72ZorderCluster: Q = (s, dir) => {
    val tmp = Scratch.fresh("q72")
    val e = events(s, dir)
    val clustered = e.select(
      col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"),
      pmod(col("user_id"), lit(65536L)).as("x"),
      pmod(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
        .cast("long"), lit(65536L)).as("y"))
    ZOrder.writeClustered(clustered, col("x"), col("y"), s"$tmp/z",
      partitions = 8, maxRecordsPerFile = 1000000L)
    s.read.parquet(s"$tmp/z")
      .withColumn("z", ZOrder.mortonKey(col("x"), col("y")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("z")).as("z_sum"),
        min(col("z")).as("z_min"),
        max(col("z")).as("z_max"),
        sum(col("event_id")).as("id_sum"),
        Exact.dsum(col("value")).as("total"))
      .orderBy("event_type")
  }

  /** Bucketed co-located join under the oracle gate — the layout
    * lever that removes BOTH exchanges from the warehouse's biggest
    * join (SURVEY.md §2's physio/diary date join, grown to the scale
    * where neither side broadcasts). orders and customer are written
    * bucketed ×8 on the join key via [[Layout.writeBucketed]] (one
    * sorted file per bucket), then [[Layout.coLocatedJoin]] sort-merge
    * joins them with zero runtime shuffle on either side —
    * LayoutSpec locks the no-Exchange plan shape; the gate locks the
    * answer against a plain DuckDB join. The aggregate after the join
    * DOES shuffle (by c_mktsegment — 5 groups), which is the correct
    * asymmetry: exchanges belong on grouped row counts, not on the
    * raw fact tables.
    */
  val q73BucketedJoin: Q = (s, dir) => {
    val tmp = Scratch.fresh("q73")
    val o = Tables.orders(s, dir).withColumnRenamed("o_custkey", "custkey")
    val c = Tables.customer(s, dir).withColumnRenamed("c_custkey", "custkey")
    Layout.writeBucketed(o, "q73_orders", s"$tmp/orders", "custkey", 8)
    Layout.writeBucketed(c, "q73_customer", s"$tmp/customer", "custkey", 8)
    Layout.coLocatedJoin(s, "q73_orders", "q73_customer", "custkey")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("custkey")).as("n_custs"),
        Exact.dsum(col("o_totalprice")).as("revenue"))
      .orderBy("c_mktsegment")
  }

  /** Dynamic partition pruning under the oracle gate — the layout
    * lever that keeps a selective dim-filtered join from scanning the
    * whole fact table. events are written hive-partitioned by day
    * ([[Layout.writePartitioned]]); a day→week-of-month dim (itself
    * file-backed — no LocalRelation shortcut) is filtered to ONE week
    * and joined on the partition column. Spark cannot prune
    * statically (the filter is on the dim), so PartitionPruning
    * plants a dynamic subquery reusing the dim's broadcast as an
    * IN-filter on the fact scan's partition listing: ~23 of 30 day
    * partitions are never read (LayoutSpec locks the `dynamicpruning`
    * filter and counts the scanned partitions). The oracle applies
    * the equivalent static predicate to the raw table.
    */
  val q74Dpp: Q = (s, dir) => {
    val tmp = Scratch.fresh("q74")
    val ev = events(s, dir)
      .withColumn("day", dayofmonth(to_date(col("ts"))))
    Layout.writePartitioned(
      ev.select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("day")),
      "day", s"$tmp/fact")
    ev.select("day").distinct()
      .withColumn("wk", expr("(day - 1) div 7 + 1"))
      .write.mode("overwrite").parquet(s"$tmp/dim")
    val fact = s.read.parquet(s"$tmp/fact")
    val dim = s.read.parquet(s"$tmp/dim").filter(col("wk") === 2)
    Layout.prunedFactJoin(fact, dim, "day")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        Exact.dsum(col("value")).as("total"))
      .orderBy("event_type")
  }

  /** BM25 keyword retrieval ([[Retrieval.bm25TopK]]) — top-20 docs for
    * a 3-term query. The plan is the 100 TB shape argued in the
    * operator's scaladoc: one map pass (token array + per-term tf via
    * array HOFs, never an explode), one SINGLE-ROW mergeable stats
    * aggregate broadcast back (df only for the query terms — no
    * vocabulary groupBy), scoring as a pure projection, TakeOrdered
    * top-k (per-partition k + driver merge, no global sort). Oracle
    * mirrors the exact expression tree; scores rounded 6dp before the
    * rank so ties break on doc_id identically on both engines.
    */
  val q75Bm25Retrieval: Q = (s, dir) =>
    Retrieval.bm25TopK(docs(s, dir), "doc_id", "text",
      terms = Seq("spark", "join", "stream"), k = 20)

  /** Edit-distance-1 fuzzy self-join ([[FuzzyJoin.editDistance1Pairs]],
    * FastSS deletion-neighborhood blocking) over part names plus a
    * planted typo per name ('x' over the first char — substitution
    * distance exactly 1, so every name pairs with its typo and the
    * gate has real mass). The engine runs block-then-verify: variant
    * equi-join candidates (shuffle linear in Σ|name|), exact
    * `levenshtein` only on collisions; the oracle runs the naive N²
    * theta join over the same corpus — viable at 64 distinct names,
    * impossible at 10⁹ keys, which is exactly the point.
    */
  val q76FuzzyJoin: Q = (s, dir) => {
    val names = Tables.part(s, dir).select(col("p_name")).distinct()
    val corpus = names.unionByName(
      names.select(concat(lit("x"), expr("substring(p_name, 2)")).as("p_name")))
    FuzzyJoin.editDistance1Pairs(corpus, "p_name").orderBy("a", "b")
  }

  /** Incremental materialized-aggregate refresh ([[IncrementalAgg]]):
    * a stored view of mergeable partials (count / DECIMAL(38,6) sum /
    * min / max per event_type) built from history (< Jan 25) is
    * refreshed with a delta batch (>= Jan 25) by ONE group-by over
    * view ∪ delta partial rows — history is never re-scanned (the
    * delta filter pushes to the parquet scan; on a date-partitioned
    * fact table it is partition-pruned). Oracle recomputes from ALL
    * events: the gate proves old⊕delta ≡ full rebuild bit-for-bit —
    * the decimal partial sum is exactly associative, so the merged
    * double equals the single-pass Exact.dsum at any batch split.
    */
  val q77IncrementalAgg: Q = (s, dir) => {
    val tmp = Scratch.fresh("q77")
    val e = events(s, dir).withColumn("d", to_date(col("ts")))
    val cutoff = lit("2024-01-25").cast(DateType)
    IncrementalAgg.partials(e.filter(col("d") < cutoff),
      Seq("event_type"), "value", "d")
      .write.mode("overwrite").parquet(s"$tmp/view")
    val view = s.read.parquet(s"$tmp/view")
    val delta = IncrementalAgg.partials(e.filter(col("d") >= cutoff),
      Seq("event_type"), "value", "d")
    IncrementalAgg.finish(
      IncrementalAgg.merge(view.unionByName(delta), Seq("event_type")),
      Seq("event_type"))
      .orderBy("event_type")
  }

  /** Incremental SKETCH-state refresh ([[IncrementalAgg.sketchPartials]]):
    * the q77 view⊕delta shape extended to the non-algebraic aggregate
    * q77's scaladoc rules out in exact form — distinct user counts per
    * event_type, kept as mergeable HLL sketches. The view (< Jan 15)
    * is written to parquet (serialized sketch binaries survive the
    * roundtrip), refreshed with the delta (>= Jan 15) by ONE group-by
    * union-merge, and compared IN THE PLAN against a from-scratch
    * rebuild: `incremental_equals_full` asserts estimate equality
    * (HLL union is per-register max / coupon-set union — associative,
    * so any batch split reaches the same sketch state), and
    * `within_bounds` asserts the q45-style ±5% envelope against the
    * exact distinct count. The oracle expects TRUE for both — a wrong
    * union, a sketch corrupted by the parquet roundtrip, or a drifted
    * estimate all fail the hash compare.
    */
  val q78IncrementalHll: Q = (s, dir) => {
    val tmp = Scratch.fresh("q78")
    val keys = Seq("event_type")
    val e = events(s, dir)
      .select(col("event_type"), col("user_id"), to_date(col("ts")).as("d"))
    val cutoff = lit("2024-01-15").cast(DateType)
    IncrementalAgg.sketchPartials(e.filter(col("d") < cutoff), keys, "user_id", "d")
      .write.mode("overwrite").parquet(s"$tmp/view")
    val view = s.read.parquet(s"$tmp/view")
    val delta = IncrementalAgg.sketchPartials(
      e.filter(col("d") >= cutoff), keys, "user_id", "d")
    val inc = IncrementalAgg.sketchFinish(
      IncrementalAgg.sketchMerge(view.unionByName(delta), keys), keys)
    val full = IncrementalAgg.sketchFinish(
      IncrementalAgg.sketchPartials(e, keys, "user_id", "d"), keys)
    val exact = e.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    exact
      .join(inc.select(col("event_type"), col("n"),
        col("approx_distinct").as("_inc"), col("d_min"), col("d_max")), "event_type")
      .join(full.select(col("event_type"),
        col("approx_distinct").as("_full")), "event_type")
      .select(col("event_type"), col("n"), col("exact_distinct"),
        (col("_inc") === col("_full")).as("incremental_equals_full"),
        (abs(col("_inc") - col("exact_distinct")) <=
          col("exact_distinct") * 0.05).as("within_bounds"),
        col("d_min"), col("d_max"))
      .orderBy("event_type")
  }

  /** The 20 query terms of [[q79Bm25Multiterm]] — shared with the
    * oracle SQL generator so both engines score the identical list in
    * the identical order.
    */
  val Bm25MultiTerms: Seq[String] = Seq(
    "join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line",
    "data", "table", "agg", "value", "key", "stream")

  /** Multi-term BM25 ([[Retrieval.bm25TopK]] at 20 query terms): same
    * single-Aggregate / no-Generate plan shape as q75, but per-doc tf
    * comes from the native single-scan tf-vector kernel
    * (`graft_term_tfs`: O(dl + T) per doc) rather than T per-term
    * array refilters (O(dl · T)) — the shape that keeps long curation
    * queries ("docs about any of these 100 topics") flat in term
    * count. The oracle generates the same fixed-order left-associative
    * score tree per term, so the hash gate covers all 20 idf/tf paths.
    */
  val q79Bm25Multiterm: Q = (s, dir) =>
    Retrieval.bm25TopK(docs(s, dir), "doc_id", "text",
      terms = Bm25MultiTerms, k = 30)

  /** STREAM-STREAM watermarked interval join ([[graft.streaming
    * .StreamingJoin.pointInPrecedingWindow]]) under the oracle gate —
    * the q31 range join (clicks within the 10 minutes preceding each
    * error, same user) with BOTH sides arriving as streams: two file
    * sources, symmetric-hash join keyed on user_id with the time-range
    * predicate driving state eviction, append sink. An inner join's
    * emitted set is a pure function of the input sets (arrival order
    * only changes batching), so the gate compares the full
    * (error_id, click_id) pair set against the batch theta-join
    * oracle — same SQL as q31.
    */
  val q80StreamingJoin: Q = (s, dir) => {
    val e = events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"), col("ts").as("ets"))
    val joined = graft.streaming.StreamingJoin.pointInPrecedingWindow(
      fixtureStream("q80clicks", dir, clicks), fixtureStream("q80errors", dir, errors),
      Seq("user_id"), "cts", "ets", windowSec = 600L,
      // the corpus spans one month and arrives in arbitrary file
      // order — a generous horizon keeps every row joinable; real
      // deployments tighten this to their actual lateness bound
      lateness = "40 days")
      .select("error_id", "click_id", "user_id")
    appendToSink(joined, Scratch.fresh("q80"), needsFlushBatch = false)
      .orderBy("error_id", "click_id")
  }

  /** Small-file compaction under the oracle gate ([[Layout.compact]]):
    * events are deliberately shattered into 64 sliver files (an
    * over-parallel write — the layout streaming sinks and MERGE
    * batches leave behind), compacted into right-sized files clustered
    * by event_id, and read back. The gate hashes EVERY column of every
    * row through the rewrite (ts via unix_micros — encoding-proof),
    * proving compaction is pure layout; the file-count drop itself is
    * asserted in-plan (a no-op "compaction" that kept 64 slivers would
    * fail the require, and LayoutSpec locks the stats separately).
    */
  val q81Compaction: Q = (s, dir) => {
    val tmp = Scratch.fresh("q81")
    val e = events(s, dir).select(
      col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    e.repartition(64).write.mode("overwrite").parquet(s"$tmp/shattered")
    val stats = Layout.compact(s, s"$tmp/shattered", s"$tmp/compacted",
      targetBytes = 64L << 20, clusterBy = Seq("event_id"))
    require(stats.filesAfter < stats.filesBefore,
      s"compaction did not reduce file count: $stats")
    s.read.parquet(s"$tmp/compacted")
      .select(col("event_id"), unix_micros(col("ts")).as("t_us"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  /** C4/Gopher-style quality-filter cascade ([[QualityCascade]]) with
    * first-failure attribution: ordered rules (token floor → language
    * → stopword floor → punctuation cap), one map-side when-chain, no
    * shuffle — each doc gets "pass" or the FIRST rule it failed, the
    * report every corpus-curation iteration starts from. Every rule
    * predicate is exact integer/ratio arithmetic (no composite float
    * scores), so the verdict is bit-stable across engines and the
    * whole cascade hashes under the gate. The DuckDB oracle chains
    * the same metrics in the same order.
    */
  val q82QualityCascade: Q = (s, dir) => {
    val txt = col("text")
    val rules = Seq(
      "min_tokens" -> (Text.tokenCount(txt) >= 20),
      "lang_en"    -> (Text.langId(txt) === "en"),
      "stopword"   -> (Text.stopwordRatio(txt) >= 0.04),
      "punct"      -> (Text.punctRatio(txt) <= 0.2))
    QualityCascade.annotate(byDocId(docs(s, dir)).select(col("doc_id"), txt), rules)
      .select("doc_id", "verdict")
      .orderBy("doc_id")
  }

  /** Document chunking ([[Chunker.chunk]]): fixed 32-token windows at
    * stride 24 (8-token overlap) — the raw-corpus → training-sequence
    * step (and the RAG index unit). Pure map-side tokenize-once +
    * slice + posexplode, no shuffle; chunk ids are (doc_id,
    * chunk_idx), deterministic and layout-independent. The oracle
    * rebuilds every chunk string in DuckDB, so window arithmetic,
    * stride cover, and the short tail chunk are all under the hash
    * gate.
    */
  val q83Chunking: Q = (s, dir) =>
    Chunker.chunk(docs(s, dir), "doc_id", "text", window = 32, stride = 24)
      .orderBy("doc_id", "chunk_idx")

  /** Greedy sequence packing ([[Packer.pack]]) of the q83 chunks into
    * 256-token training sequences, 8 shards: per-shard sequential fold
    * (flatMapGroups — the Ewma precedent), parallel across shards,
    * deterministic in (doc_id, chunk_idx) order. The oracle replays
    * the same greedy recurrence as a per-shard recursive CTE, so every
    * placement decision (sequence boundary, overlong-chunk isolation,
    * position within sequence) is under the hash gate.
    */
  val q84Packing: Q = (s, dir) => {
    val chunks = Chunker.chunk(docs(s, dir), "doc_id", "text",
      window = 32, stride = 24)
    Packer.pack(chunks, "doc_id", "chunk_idx", "n_tokens",
        budget = 256L, shards = 8)
      .orderBy("shard", "doc_id", "chunk_idx")
  }

  /** Incremental near-dedup ([[NearDup.incrementalNearDupPairs]]):
    * the q52 incremental-crawl shape for NEAR duplicates. History
    * (doc_id < 400) is indexed ONCE — its band table is written to
    * parquet and read back, the stored-state roundtrip — then a delta
    * batch (doc_id ≥ 400 plus first-token-dropped mutants of docs
    * 350-449, planting both delta×history and delta×delta near-dups)
    * is checked against the index: history is never re-shingled, and
    * history text is re-read only for band-colliding candidates (a
    * semi-join prunes the scan). The oracle is the exact-Jaccard
    * theta join over the full corpus RESTRICTED to pairs involving
    * the delta — exactly the incremental invariant (history×history
    * pairs were emitted at their own ingest) — with the q16 recall
    * argument (1−(1−j⁴)⁸ ≈ 1 at j≈0.95).
    */
  /** Real-codec multimodal roundtrip ([[ImageIoCodec]], the
    * production implementation behind the [[Multimodal.MediaCodec]]
    * seam): deterministic constant-color PNGs are ENCODED
    * executor-side via javax.imageio, then decoded back through the
    * same stack — header-only dims via `withMetadata`, full-raster
    * channel means via `withFeatures`. Every output is integer-exact
    * (the (w·h)-pixel channel sums of a constant image divide back to
    * the planted value, and float normalization round-trips integers
    * 0-255 exactly under bround), so the DuckDB oracle recomputes the
    * expected values arithmetically — a wrong decode (channel order,
    * row stride, color model, header parse) fails the hash gate.
    * Scale shape: generation + decode are mapPartitions batches over
    * the pruned doc_id slice; no shuffle before the presentation sort.
    */
  val q86ImageioRoundtrip: Q = (s, dir) => {
    import s.implicits._
    val ids = docs(s, dir).select(col("doc_id")).filter(col("doc_id") < 200).as[Long]
    val payloads = ids.mapPartitions(_.map { id =>
      val w = 4 + (id % 13).toInt
      val h = 4 + (id % 7).toInt
      (id, ImageIoCodec.constantPng(w, h,
        ((id * 37) % 256).toInt, ((id * 59) % 256).toInt, ((id * 83) % 256).toInt))
    }).toDF("doc_id", "payload")
    val meta = Multimodal.withMetadata(payloads, "payload", "image", ImageIoCodec)
    val feats = Multimodal.withFeatures(meta, "payload", ImageIoCodec)
    feats.select(
        col("doc_id"),
        col("meta.format").as("fmt"),
        col("meta.width").cast("long").as("width"),
        col("meta.height").cast("long").as("height"),
        bround(element_at(col("features"), 1) * 255).cast("long").as("mean_r"),
        bround(element_at(col("features"), 2) * 255).cast("long").as("mean_g"),
        bround(element_at(col("features"), 3) * 255).cast("long").as("mean_b"))
      .orderBy("doc_id")
  }

  /** Real-codec AUDIO roundtrip ([[WavCodec]], q86's pattern for the
    * second JDK-decodable modality): constant-amplitude square-wave
    * PCM16 WAVs are encoded executor-side via javax.sound.sampled and
    * decoded back through the production codec — header-only
    * channels/bits/duration via `withMetadata`, full-PCM mean
    * |amplitude| via `withFeatures`. All outputs integer-exact
    * (frame counts divisible by the rate, amplitude < 2¹⁵ so the
    * /32768 float normalization is a pure power-of-two scale), so the
    * DuckDB oracle recomputes them arithmetically — a wrong decode
    * (byte order, channel interleave, header math) fails the gate.
    */
  val q87WavRoundtrip: Q = (s, dir) => {
    import s.implicits._
    val ids = docs(s, dir).select(col("doc_id")).filter(col("doc_id") < 200).as[Long]
    val payloads = ids.mapPartitions(_.map { id =>
      val channels = 1 + (id % 2).toInt
      val frames = 800 + (id % 5).toInt * 400
      val amp = (500 + (id * 31) % 30000).toShort
      (id, WavCodec.squareWav(frames, 8000f, channels, amp))
    }).toDF("doc_id", "payload")
    val meta = Multimodal.withMetadata(payloads, "payload", "audio", WavCodec)
    val feats = Multimodal.withFeatures(meta, "payload", WavCodec)
    feats.select(
        col("doc_id"),
        col("meta.format").as("fmt"),
        col("meta.width").cast("long").as("channels"),
        col("meta.height").cast("long").as("bits"),
        col("meta.duration_ms").as("duration_ms"),
        bround(element_at(col("features"), 1) * 32768).cast("long").as("amp"))
      .orderBy("doc_id")
  }

  /** Canonical-text dedup ([[Text.canonical]]: native NFC kernel →
    * lower → whitespace collapse → trim) — normalization-before-dedup,
    * the stage that makes byte-level content hashing work on a
    * multilingual crawl: the same visible text arrives precomposed
    * (é = U+00E9), decomposed (e + U+0301), case-shifted and
    * space-mangled, and raw sha256 dedup (q14/q52) treats every
    * variant as a distinct document. Three planted variants per doc —
    * precomposed lowercase, decomposed UPPERCASE double-spaced, mixed
    * case with edge spaces — must collapse to ONE canonical hash;
    * the oracle rebuilds the variants and canonicalizes with DuckDB's
    * independent Unicode machinery (nfc_normalize/utf8proc vs
    * java.text.Normalizer/ICU), so any divergence in the
    * normalization itself also fails the gate. Scale shape: the
    * canonicalization is a map-side codegen'd projection (fast-path
    * zero-allocation for already-NFC text); the only shuffle is the
    * hash groupBy — identical to plain exact dedup.
    */
  val q88TextnormDedup: Q = (s, dir) => {
    val d0 = docs(s, dir).select("doc_id", "text").filter(col("doc_id") < 300)
    val v1 = d0.select((col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" café naïve mix")).as("text"))
    val v2 = d0.select((col("doc_id") + 200000).as("doc_id"),
      concat(col("text"), lit(" CAFÉ NAÏVE  MIX")).as("text"))
    val v3 = d0.select((col("doc_id") + 300000).as("doc_id"),
      concat(col("text"), lit("  Café Naïve mix ")).as("text"))
    v1.unionByName(v2).unionByName(v3)
      .select(col("doc_id"), sha2(Text.canonical(col("text")), 256).as("canon_sha"))
      .groupBy("canon_sha")
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_variants"))
      .select("rep_id", "n_variants", "canon_sha")
      .orderBy("rep_id")
  }

  /** Line-level boilerplate removal ([[LineDedup.removeBoilerplate]],
    * CCNet/RefinedWeb): two boilerplate lines (subscribe prompt,
    * copyright footer) are planted on EVERY document — document
    * frequency = corpus size, far above maxDf = 50 — while each doc's
    * own text stays unique. The operator must strip exactly the
    * planted lines and reassemble the original text; the oracle
    * recomputes df on exact line strings (vs the operator's 8-byte
    * hashes) and gates the per-doc survivor count, removed count and
    * cleaned-text sha256.
    */
  val q89LineDedup: Q = (s, dir) => {
    val corpus = docs(s, dir).select(col("doc_id"),
      concat(col("text"),
        lit("\nsubscribe to our newsletter\ncopyright 2021 example corp"))
        .as("text"))
    LineDedup.removeBoilerplate(corpus, "doc_id", "text", maxDf = 50)
      .select(col("doc_id"), col("n_kept"), col("n_removed"),
        sha2(col("cleaned"), 256).as("clean_sha"))
      .orderBy("doc_id")
  }

  /** Split-leakage report — the QA query every pretraining corpus
    * needs after splitting: near-duplicate pairs that STRADDLE
    * train/valid/test boundaries leak evaluation data into training.
    * Composes three gated operators: content-fingerprint split (q35),
    * LSH near-dup pairs (q16), and a canonicalized (least, greatest)
    * split-pair rollup. The oracle recomputes splits and pairs with
    * the exact-Jaccard theta join — the q16 recall argument
    * (1−(1−j⁴)⁸ ≈ 1 at the planted j≈0.95) carries over. Mutants'
    * fingerprints differ from their base doc, so splits assign
    * near-dup pairs effectively independently — cross-split rows are
    * guaranteed to exist and the report is non-trivial.
    */
  val q90SplitLeakage: Q = (s, dir) => {
    val d0 = docs(s, dir).select("doc_id", "text")
    val mutants = d0.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000)).as("text"))
    val corpus = d0.unionByName(mutants)
    val h = pmod(graft.functions.FingerprintExpression.fingerprint(col("text")), lit(100))
    val assigned = corpus.withColumn("split",
      when(h < 80, "train").when(h < 90, "valid").otherwise("test"))
    val pairs = NearDup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.5)
    pairs
      .join(assigned.select(col("doc_id").as("id_a"), col("split").as("_sa")), "id_a")
      .join(assigned.select(col("doc_id").as("id_b"), col("split").as("_sb")), "id_b")
      .select(least(col("_sa"), col("_sb")).as("split_a"),
        greatest(col("_sa"), col("_sb")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("split_a", "split_b")
  }

  /** STREAMING near-dedup against the stored band index
    * ([[graft.streaming.StreamingNearDup.againstIndex]]) — q85's
    * delta×history path as a continuous crawl: the history band index
    * is written to parquet once (the stored-state roundtrip), then
    * the delta batch STREAMS through shingle→minhash→band projection,
    * a stream-static join against the index, watermarked pair dedup
    * and exact-Jaccard verification into an append sink. History is
    * never re-shingled on the stream side for candidates; emission is
    * in-batch (pair dedup only holds back repeats), so the bounded
    * run skips the flush batch. Oracle = the exact-Jaccard theta join
    * RESTRICTED to history×delta pairs (delta×delta is the batch
    * ingest's job — the streaming contract is "is this new doc a
    * near-dup of anything indexed").
    */
  val q91StreamingNearDup: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val history = d.filter(col("doc_id") < 400)
    val mutants = d.filter(col("doc_id") >= 350 && col("doc_id") < 450)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000)).as("text"))
    val delta = d.filter(col("doc_id") >= 400).unionByName(mutants)
      .withColumn("ts", lit("2021-01-01 00:00:00").cast("timestamp"))
    val bandsDir = memoFixture("q91bands", dir) { p =>
      NearDup.bandIndex(history, "doc_id", "text")
        .write.mode("overwrite").parquet(p)
    }
    // the stored verification side (written at ingest, like the band
    // index): without it the stream-static verify join re-shingles
    // all of history EVERY micro-batch
    val shinglesDir = memoFixture("q91shingles", dir) { p =>
      NearDup.shingleTable(history, "doc_id", "text")
        .write.mode("overwrite").parquet(p)
    }
    streamGate("q91delta", dir, delta)(
        graft.streaming.StreamingNearDup.againstIndex(_,
          s.read.parquet(bandsDir), history,
          "doc_id", "ts", "text", threshold = 0.5,
          historyShingles = s.read.parquet(shinglesDir)))
      .orderBy("id_a", "id_b")
  }

  /** URL canonicalization + URL-level dedup ([[graft.functions.Url]]):
    * two crawls of the same 50 articles are planted per corpus slice —
    * mixed-case scheme/host with utm/fragment noise vs lowercase with
    * different tracking params — and must collapse to one canonical
    * URL per article with the full crawl count. Canonicalization is a
    * pure codegen'd projection (parse_url + HOF filter, no UDF); the
    * only shuffle is the canonical groupBy, identical to exact dedup.
    * The oracle rebuilds the URLs and canonicalizes with DuckDB regex
    * machinery — parse_url's component semantics are cross-checked,
    * not assumed.
    */
  val q92UrlCanonical: Q = (s, dir) => {
    val d0 = docs(s, dir).select("doc_id").filter(col("doc_id") < 300)
    val art = col("doc_id") % 50
    val u1 = d0.select(col("doc_id"),
      concat(lit("HTTPS://Example.COM/Article/"), art,
        lit("?id="), art, lit("&utm_source=feed#top")).as("url"))
    val u2 = d0.select((col("doc_id") + 10000).as("doc_id"),
      concat(lit("https://example.com/Article/"), art,
        lit("?id="), art, lit("&utm_campaign=x&fbclid=abc")).as("url"))
    u1.unionByName(u2)
      .select(col("doc_id"), Url.canonicalize(col("url")).as("canonical"),
        Url.registrableDomain(col("url")).as("domain"))
      .groupBy("canonical", "domain")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_urls"))
      .select("keeper_id", "n_urls", "canonical", "domain")
      .orderBy("keeper_id")
  }

  /** Corpus-level bigram rarity (the integer-exact core of CCNet-style
    * LM quality filtering): a document whose bigrams rarely occur
    * elsewhere in the corpus is either high-entropy noise or genuinely
    * novel — either way the signal drives filter thresholds. Corpus
    * bigram counts are a map-side-combinable groupBy on 8-byte bigram
    * hashes; each doc's rarity profile is a join back plus one count
    * rollup. Outputs are pure integers (n_bigrams, n_rare at
    * corpus-count < 5), so the oracle is exact; docs with < 2 tokens
    * emit (0, 0) rather than vanishing.
    */
  val q93BigramRarity: Q = (s, dir) => {
    val toks = docs(s, dir).select(col("doc_id"), Text.tokens(col("text")).as("_t"))
    val bigrams = toks.select(col("doc_id"),
      explode(zip_with(
        slice(col("_t"), lit(1), greatest(size(col("_t")) - 1, lit(0))),
        slice(col("_t"), lit(2), greatest(size(col("_t")) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("_bg"))
      .select(col("doc_id"), xxhash64(col("_bg")).as("_bh"))
    val counts = bigrams.groupBy("_bh").agg(count(lit(1)).as("_c"))
    val perDoc = bigrams.join(counts, "_bh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("_c") < 5, 1L).otherwise(0L)).as("n_rare"))
    docs(s, dir).select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"))
      .orderBy("doc_id")
  }

  /** Hard-negative mining ([[Similarity.hardNegatives]]): per anchor,
    * the 5 most cosine-similar embeddings with a DIFFERENT label —
    * the contrastive-training sampling stage. Exact decimal scoring
    * (q17's parity machinery), label predicate fused into the pair
    * pass so same-label crowding can't under-fill k; oracle is the
    * theta join + rank with the mismatch filter.
    */
  val q94HardNegatives: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.hardNegatives(
      emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding", "label",
      k = 5, roundDp = -1)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "rank")
  }

  /** Cluster-aware train/valid/test split — the FIX for the leakage
    * q90 reports: a per-document content-hash split (q35) puts
    * near-duplicate documents on opposite sides of the eval boundary;
    * the production remedy assigns every member of a near-dup CLUSTER
    * the split of its canonical representative, so no near-dup pair
    * can straddle splits by construction. Composition of three gated
    * operators: LSH pairs (q16) → [[Dedup.componentsStar]] canonical
    * labels (q32) → the q35 fingerprint split applied to the
    * REPRESENTATIVE's text and inherited by the whole cluster. The
    * oracle recomputes reachability with a recursive CTE and the
    * fingerprint arithmetic — canonical ids AND inherited splits both
    * gate.
    */
  val q95ClusterSplit: Q = (s, dir) => {
    val d0 = docs(s, dir).select("doc_id", "text")
    val mutants = d0.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000)).as("text"))
    val corpus = d0.unionByName(mutants)
    val pairs = NearDup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.5)
    val labels = Dedup.componentsStar(corpus.select("doc_id"), "doc_id",
      pairs, "id_a", "id_b")
    val repH = corpus.select(col("doc_id").as("comp"),
      pmod(graft.functions.FingerprintExpression.fingerprint(col("text")), lit(100)).as("_h"))
    labels.join(repH, "comp")
      .select(col("v").as("doc_id"), col("comp").as("canonical_id"),
        when(col("_h") < 80, "train").when(col("_h") < 90, "valid")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Script profile ([[Text.charClassCount]]): per-document character
    * counts by Unicode block (Latin / Cyrillic / CJK / Arabic) — the
    * script-mix signal multilingual corpus routing and mojibake
    * detection start from (language-ID alone misroutes mixed-script
    * spam). Planted non-Latin suffixes exercise each block; counts
    * are pure map-side codegen'd projections, and the oracle
    * recomputes them with RE2's independent regex engine — the
    * codepoint-class semantics are cross-checked, not assumed.
    */
  val q96ScriptProfile: Q = (s, dir) => {
    val planted = byDocId(docs(s, dir)).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 4 === 1, lit(" привет мир"))
          .when(col("doc_id") % 4 === 2, lit(" 你好世界"))
          .when(col("doc_id") % 4 === 3, lit(" مرحبا بالعالم"))
          .otherwise(lit(""))).as("_t"))
    planted.select(col("doc_id"),
        Text.charClassCount(col("_t"), "[A-Za-z]").as("n_latin"),
        Text.charClassCount(col("_t"), "[\\u0400-\\u04FF]").as("n_cyrillic"),
        Text.charClassCount(col("_t"), "[\\u4E00-\\u9FFF]").as("n_cjk"),
        Text.charClassCount(col("_t"), "[\\u0600-\\u06FF]").as("n_arabic"))
      .orderBy("doc_id")
  }

  /** Count-min point queries ([[graft.functions.CountMinSketch]]):
    * the mergeable frequency matrix beside q70's Misra-Gries — CMS
    * answers point queries for arbitrary items after the fact, MG
    * only surfaces the heavy ones. One scan folds every partition
    * into a 4×512 long matrix (map-side partials, ~16 KB shuffled
    * total); the top-10 probes then read the BROADCAST sketch with
    * [[graft.functions.CountMin.estimate]] — pure codegen'd
    * `xxhash64`/`pmod`/`element_at`, bit-identical to the
    * aggregator's update hash, no driver lookup. Gated like q70: the
    * exact count rides the hash compare, the sketch rides as bound
    * booleans (never-undercount is unconditional; the overcount
    * bound is ε·N with ε = e/512, deterministic on this data).
    */
  val q97CountMin: Q = (s, dir) => {
    val d = 4; val w = 512
    val toks = docs(s, dir).select(explode(Text.tokens(col("text"))).as("tok"))
    val sketch = toks.agg(
      graft.functions.CountMin.countMin(d, w)(col("tok")).as("_cms"),
      count(lit(1)).as("_n"))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(10)
    val est = graft.functions.CountMin.estimate(col("_cms"), col("tok"), d, w)
    top.crossJoin(broadcast(sketch))
      .select(col("tok"), col("cnt"),
        (est >= col("cnt")).as("ok_lower"),
        (est.cast("double") <= col("cnt").cast("double")
          + col("_n").cast("double") * (math.E / w)).as("ok_upper"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** Integer-exact PageRank ([[PageRank.pageRank]]) over the
    * interaction graph events imply: within each event_type stream
    * (ordered by ts, event_id — unique, so the order is total), each
    * event links the previous actor to the current one. Five exact
    * iterations in scaled-BIGINT arithmetic — deterministic under any
    * partitioning, so the full rank vector rides the hash gate; the
    * oracle unrolls the identical recurrence with DuckDB's `//`.
    * Authority scores like these weight crawl sources and pick
    * canonical docs inside near-dup clusters.
    */
  val q98PageRank: Q = (s, dir) => {
    val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
    val edges = events(s, dir)
      .select(col("event_type"), col("ts"), col("event_id"), col("user_id"))
      .withColumn("_prev", lag(col("user_id"), 1).over(w))
      .filter(col("_prev").isNotNull && col("_prev") =!= col("user_id"))
      .select(col("_prev").as("src"), col("user_id").as("dst"))
    PageRank.pageRank(edges, "src", "dst", iterations = 5).orderBy("v")
  }

  /** BPE tokenizer training ([[BpeTrainer.train]]): 12 exact merges
    * learned from the document corpus — the Sennrich ACL'16 algorithm
    * re-shaped so the corpus collapses once to the distinct-word
    * frequency table and every round is a map-side pair count plus a
    * narrow fold. The full merge table (rank, left, right, winning
    * pair count) rides the hash gate; the oracle unrolls all 12
    * rounds in DuckDB — pair stats via position self-join, greedy
    * non-overlapping merge via run-parity windows (odd positions
    * within each maximal run of consecutive candidate pairs).
    */
  val q99BpeTrain: Q = (s, dir) =>
    BpeTrainer.train(docs(s, dir), "text", numMerges = 12).orderBy("rank")

  /** The learned 12-merge model, memoized per data dir: training is a
    * pure function of the corpus, and q102 consuming q99's model is
    * the honest cost split (train once, apply downstream) — without
    * the memo the bench would charge q102 a full retrain.
    */
  private val bpeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, String, String, Long)]]()
  private def bpeMerges(s: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    bpeMemo.computeIfAbsent(dir, _ =>
      BpeTrainer.train(docs(s, dir), "text", numMerges = 12)
        .orderBy("rank").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq)

  /** Training-export end-to-end: the full raw-corpus →
    * training-ready-shards pipeline as ONE composed plan — quality
    * cascade (q82's rules) → exact content dedup (first-wins) →
    * 32/24 chunking → 256-token greedy packing into 8 shards → a
    * shard-partitioned parquet sink → read-back. The chunk-level
    * placement table AFTER the sink roundtrip is what's gated, so
    * filter semantics, dedup survivors, window arithmetic, every
    * packing decision, AND sink losslessness all sit under one hash
    * compare (q49's e2e pattern for the export side of the house).
    * Scale shape: each stage is the already-plan-locked operator;
    * composition adds no new shuffle beyond packing's single
    * exchange, and the write clusters by shard — the layout training
    * readers consume.
    */
  /** The q100 export pipeline's packed chunk table (cascade → dedup →
    * chunk → pack), shared by the e2e sink roundtrip (q100) and the
    * shard manifest (q135).
    */
  private def exportPacked(s: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    val rules = Seq(
      "min_tokens" -> (Text.tokenCount(txt) >= 20),
      "lang_en"    -> (Text.langId(txt) === "en"),
      "stopword"   -> (Text.stopwordRatio(txt) >= 0.04),
      "punct"      -> (Text.punctRatio(txt) <= 0.2))
    val passed = QualityCascade.annotate(docs(s, dir).select(col("doc_id"), txt), rules)
      .filter(col("verdict") === "pass")
      .select("doc_id", "text")
    val kept = Dedup.exactByHash(passed, "text", Seq(col("doc_id")))
    val chunks = Chunker.chunk(kept, "doc_id", "text", window = 32, stride = 24)
    Packer.pack(chunks, "doc_id", "chunk_idx", "n_tokens",
      budget = 256L, shards = 8)
  }

  val q100ExportE2e: Q = (s, dir) => {
    val packed = exportPacked(s, dir)
    val out = Scratch.fresh("q100")
    packed.write.mode("overwrite").partitionBy("shard").parquet(out)
    // partition-column inference reads shard back as int — restore long
    docs(s, dir).sparkSession.read.parquet(out)
      .select(col("shard").cast("long").as("shard"), col("doc_id"),
        col("chunk_idx"), col("n_tokens"), col("seq_idx"), col("seq_pos"))
      .orderBy("shard", "doc_id", "chunk_idx")
  }

  /** Content-defined chunking ([[Chunker.chunkContentDefined]]):
    * CDC boundaries (fingerprint ≡ 0 mod 16 → ~16-token chunks) over
    * the corpus PLUS first-token-dropped mutants — the planted shift
    * that defeats fixed windows (every q83 window moves by one) but
    * leaves content-defined chunks identical after the edit point.
    * The full chunk table is gated: every boundary decision and
    * reassembled chunk string must match the DuckDB replay of the
    * same per-token fingerprint recurrence.
    */
  val q101CdcChunking: Q = (s, dir) => {
    val d0 = docs(s, dir).select("doc_id", "text").filter(col("doc_id") < 300)
    val mutants = d0.select((col("doc_id") + 100000).as("doc_id"),
      concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000)).as("text"))
    Chunker.chunkContentDefined(d0.unionByName(mutants), "doc_id", "text",
        divisor = 16)
      .orderBy("doc_id", "chunk_idx")
  }

  /** Train-then-apply BPE: segment the corpus with the 12 merges q99
    * learns and report the resulting subword vocabulary with corpus
    * frequencies — the tokenizer-development loop (train → segment →
    * inspect vocab mass) as one plan. Segmentation runs on the
    * DISTINCT-word table (a pure function of the word, so the corpus
    * never re-segments — word freq weights the rollup), via the
    * native [[graft.functions.BpeSegmentKernel]] kernel (codegen'd single
    * pass; ≡ [[BpeTrainer.applyMerges]]'s fold, property-tested). The oracle
    * extends q99's 12-round unroll: the final word table's symbols,
    * unnested and weighted by word frequency. Top-100 subwords by
    * (freq DESC, subword) are gated — schema-stable while the tail
    * (ties among hapax fragments) stays out of the sort-order gate.
    */
  val q102BpeVocab: Q = (s, dir) => {
    val merges = bpeMerges(s, dir).map(m => (m._2, m._3))
    val words = docs(s, dir)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    words
      .select(col("freq"),
        explode(graft.functions.BpeExpressions.bpeSegment(col("w"), merges))
          .as("subword"))
      .groupBy("subword").agg(sum("freq").as("freq"))
      .orderBy(col("freq").desc, col("subword")).limit(100)
  }

  /** KMV (k minimum values) distinct-count sketch (Bar-Yossef et al.,
    * "Counting Distinct Elements in a Data Stream", RANDOM 2002; the
    * bottom-k estimator of Beyer et al. SIGMOD 2007): keep the k
    * smallest DISTINCT hash values of the token stream; the k-th
    * smallest h_k estimates |distinct| ≈ (k−1)·M/h_k for hashes
    * uniform on [0, M). Deterministic here by construction — the
    * hash is a 12-hex-digit md5 prefix (bit-identical in every
    * engine, uniform by design — the poly fingerprint would bias the
    * estimate 1000×, see the inline note), so the bottom-64
    * sample itself (shingle + hash) rides the hash gate and doubles as
    * a content-stable corpus sample (any executor, any order, same
    * rows — the property that makes bottom-k samples mergeable:
    * union then re-take the k smallest). The estimator quality gate
    * is a boolean (±50% envelope, deterministic on this data) beside
    * the exact distinct count, q45's HLL pattern. Scale shape: the
    * distinct collapses token duplicates with partial aggregation;
    * TakeOrdered ships only k rows per partition to the driver-side
    * merge — no global sort materializes.
    */
  val q103KmvDistinct: Q = (s, dir) => {
    val k = 64
    val m = math.pow(16.0, 12) // hash space: 12 hex digits = 2^48
    // domain: 3-gram shingles (the corpus vocabulary is a small token
    // pool by construction — shingles are the 16k-cardinality stream
    // a distinct-estimator is FOR). Hash: md5 prefix, NOT the poly
    // fingerprint — KMV needs uniformity on the hash space, and the
    // 31-bit polynomial concentrates short strings near zero (its
    // modulus never wraps), which would bias the estimator by 1000×.
    val sh = docs(s, dir)
      .select(explode(NearDup.shingles(col("text"), 3)).as("sh")).distinct()
      .select(col("sh"),
        conv(substring(md5(col("sh")), 1, 12), 16, 10).cast("long").as("h"))
    val stats = sh.agg(countDistinct(col("sh")).as("_nd"))
    val bottom = sh.orderBy(col("h"), col("sh")).limit(k)
    val hk = bottom.agg(max(col("h")).as("_hk"))
    bottom.crossJoin(broadcast(stats)).crossJoin(broadcast(hk))
      .select(col("sh"), col("h"), col("_nd").as("n_distinct"),
        (abs(lit((k - 1).toDouble) * lit(m) / col("_hk").cast("double")
          - col("_nd").cast("double")) <= col("_nd").cast("double") * 0.5)
          .as("ok_est"))
      .orderBy("h", "sh")
  }

  /** Stored IVF index roundtrip ([[Similarity.buildIvfIndex]] /
    * [[Similarity.ivfTopKFromIndex]]): the corpus's cell assignments
    * are computed ONCE, written to parquet, read back, and q29's
    * exact query batch runs against the stored index — the ANN-
    * service shape where a 100 TB corpus is indexed offline and
    * query batches never re-scan it. The oracle is LITERALLY q29's:
    * the index hop must reproduce the inline operator bit-for-bit.
    */
  val q104IvfIndex: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val seeds = emb.filter(col("vec_id") < 16)
    val tmp = Scratch.fresh("q104")
    Similarity.buildIvfIndex(emb, seeds, "vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/index")
    val index = s.read.parquet(s"$tmp/index")
    Similarity.ivfTopKFromIndex(
      emb.filter(col("vec_id") < 50), emb, index, seeds,
      "vec_id", "embedding", k = 5, nProbe = 4)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "rank")
  }

  /** Incremental connected components
    * ([[Dedup.componentsIncremental]] fed by
    * [[NearDup.incrementalNearDupPairs]]): q32's corpus split into a
    * HISTORY slice (doc_id mod 100000 >= 300 — the BULK of the
    * corpus, as a real labeled history always is) that is labeled AND
    * band-indexed once at ingest (the parquet roundtrip is the
    * stored-state hop), then the originals < 300 plus their mutants
    * arrive as a small delta whose near-dup pairs come from
    * the STORED band index — history is never re-shingled (its text
    * is re-read only for band-colliding candidates, semi-join
    * pruned), the stored labels fold in as a 1-deep star forest, and
    * the result must equal the from-scratch recompute BIT-FOR-BIT:
    * the oracle is literally q32's. Band hashes are deterministic
    * functions of each doc's text alone, so the incremental
    * delta×history + delta×delta candidate set is identical to the
    * delta-touching slice of the full-corpus self-join — which is why
    * the exact-recompute oracle holds. This is the composition to
    * imitate at 100 TB: per-batch cost ∝ delta + collisions, never
    * ∝ history.
    */
  val q105IncrementalComponents: Q = (s, dir) => {
    val corpus = mutantCorpus(s, dir)
    // history is the BULK of the corpus (everything except originals
    // < 300 and their mutants): at 100 TB the labeled history dwarfs
    // every arriving batch, and this split makes the demo measure
    // exactly that regime — the inverse split (tiny history, huge
    // delta) degenerated to from-scratch cost by construction
    val isHistory = pmod(col("doc_id"), lit(100000L)) >= 300
    val history = corpus.filter(isHistory)
    val delta = corpus.filter(!isHistory)
    // ingest time: history labeled and band-indexed ONCE (memoized
    // like q91's index — this state exists before the delta arrives;
    // the query measures the delta path, which is the operator's
    // 100 TB contract)
    val labelsDir = memoFixture("q105labels", dir) { p =>
      Dedup.componentsStar(
          history.select("doc_id"), "doc_id",
          NearDup.nearDupPairs(history, "doc_id", "text", threshold = 0.5),
          "id_a", "id_b")
        .write.mode("overwrite").parquet(p)
      // the star fixed-point checkpoint backs nothing once labels are
      // on parquet — free it now rather than at the bench boundary
      graft.core.OpCache.release()
    }
    val bandsDir = memoFixture("q105bands", dir) { p =>
      NearDup.bandIndex(history, "doc_id", "text")
        .write.mode("overwrite").parquet(p)
    }
    val histLabels = s.read.parquet(labelsDir)
    val bandState = s.read.parquet(bandsDir)
    // delta arrival: pairs via the stored index, labels folded in —
    // history is never re-shingled and its pair set never re-processed
    val (deltaPairs, _) = NearDup.incrementalNearDupPairs(
      bandState, history, delta, "doc_id", "text", threshold = 0.5)
    Dedup.componentsIncremental(histLabels, "v", "comp",
        delta.select("doc_id"), "doc_id", deltaPairs, "id_a", "id_b")
      .select(col("v").as("doc_id"), col("comp").as("canonical_id"))
      .orderBy("doc_id")
  }

  /** Streaming heavy hitters: the Misra-Gries typed Aggregator (q70)
    * under the REAL micro-batch runtime — a watermarked one-day
    * window over the token stream, sentinel-flushed (the q60
    * pattern), emitting one mergeable ≤16-entry summary through a
    * file sink. The PODS'12 bound holds for ANY chunking — including
    * the runtime's trigger boundaries — which is exactly why the q70
    * boolean gate stays deterministic when the same sketch is fed by
    * micro-batches instead of one batch scan. Oracle: literally
    * q70's (exact counts + TRUE bounds).
    */
  val q106StreamingHeavyHitters: Q = (s, dir) => {
    val toks = docs(s, dir)
      .select(explode(Text.tokens(col("text"))).as("tok"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
      .unionByName(s.range(1).select(lit("__sentinel").as("tok"),
        lit("2030-01-01 00:00:00").cast("timestamp").as("ts")))
    val sketch = streamGate("q106in", dir, toks, needsFlushBatch = true)(
        _.withWatermark("ts", "1 minute")
          .groupBy(window(col("ts"), "1 day"))
          .agg(graft.functions.HeavyHitters.misraGries(16)(col("tok")).as("_mg"),
            count(lit(1)).as("_n")))
      .select("_mg", "_n")
    // exact counts from the memoized fixture (same token stream, one
    // parquet scan) instead of re-tokenizing the whole corpus
    val top = s.read.parquet(memoFrame("q106in", dir, toks))
      .filter(col("tok") =!= "__sentinel")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(10)
    top.crossJoin(broadcast(sketch))
      .select(col("tok"), col("cnt"),
        ((col("cnt") - coalesce(try_element_at(col("_mg"), col("tok")), lit(0L)))
          .cast("double") <= col("_n").cast("double") / 17.0).as("ok_lower"),
        (coalesce(try_element_at(col("_mg"), col("tok")), lit(0L)) <= col("cnt"))
          .as("ok_upper"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** Random projection ([[Similarity.randomProjectExact]]): 64→16
    * dims with the Achlioptas ±1 matrix, every component a
    * decimal-exact signed sum — the full projected table rides the
    * hash gate, and the oracle rebuilds the sign matrix from the
    * same md5 parity rule per component. Components are rounded to
    * 6 dp for the gate (q17's ranking precedent): ±1·x passes the
    * RAW float through the scale-12 quantizer, where Spark's
    * shortest-repr HALF_UP and DuckDB's binary-value rounding can
    * split an exact tie (observed: one element, 1e-12) — a product
    * of two floats (the dot-product case) has ~17 significant
    * digits and never tied, but a bare float can.
    */
  val q107RandomProjection: Q = (s, dir) => {
    val proj = Similarity.randomProjectExact(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      inDim = 64, outDim = 16)
    proj.select(col("vec_id") +:
        (0 until 16).map(j => round(col(s"p$j"), 6).as(s"p$j")): _*)
      .orderBy("vec_id")
  }

  /** Schema evolution: a corpus directory written by TWO generations
    * of a pipeline — v1 files carry (event_id, user_id, value), v2
    * files add a `quality` column — read back as ONE table with
    * parquet `mergeSchema` (footer-union schema reconciliation, the
    * data-lake reality where historical files are never rewritten).
    * Gated: every v1 row surfaces NULL quality, every v2 row its
    * value, and no row is lost or duplicated across generations.
    */
  val q108SchemaEvolution: Q = (s, dir) => {
    val tmp = Scratch.fresh("q108")
    val e = ev(s, dir).select("event_id", "user_id", "value")
    e.filter(col("event_id") % 2 === 0)
      .write.mode("append").parquet(s"$tmp/t")
    e.filter(col("event_id") % 2 === 1)
      .withColumn("quality", round(col("value") * 2, 6))
      .write.mode("append").parquet(s"$tmp/t")
    docs(s, dir).sparkSession.read.option("mergeSchema", "true")
      .parquet(s"$tmp/t")
      .select("event_id", "user_id", "value", "quality")
      .orderBy("event_id")
  }

  /** Streaming CDC chunking: q101's exact pipeline with the corpus
    * arriving as a STREAM — the chunk kernel is a stateless map-side
    * projection, so it runs unchanged under the micro-batch runtime
    * (no watermark, no state store; append mode is legal for pure
    * projections), and the emitted chunk table must match the batch
    * operator file-for-file. Oracle: literally q101's. This is the
    * general claim made concrete: every map-side operator in the
    * library is automatically streaming-capable.
    */
  val q109StreamingCdc: Q = (s, dir) => {
    val d0 = docs(s, dir).select("doc_id", "text").filter(col("doc_id") < 300)
    val fixture = d0.unionByName(d0.select((col("doc_id") + 100000).as("doc_id"),
      concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000)).as("text")))
    streamGate("q109in", dir, fixture)(
        Chunker.chunkContentDefined(_, "doc_id", "text", divisor = 16))
      .select("doc_id", "chunk_idx", "chunk", "n_tokens")
      .orderBy("doc_id", "chunk_idx")
  }

  /** Grouped deterministic sampling ([[graft.functions.BottomKByHash]]):
    * per-language 5-doc sample as a MERGEABLE bottom-k-by-content-hash
    * aggregate — map-side partials reduce each (partition, lang) to
    * ≤5 pairs before the shuffle, where the window formulation
    * (`row_number` over lang) would shuffle the whole corpus to its
    * group partitions first. The sample is a pure function of group
    * content (md5 keys, q103's uniform-hash rationale), so the full
    * sample table rides the hash gate against the window-replay
    * oracle.
    */
  val q110GroupedSample: Q = (s, dir) => {
    val d = docs(s, dir).select(col("lang"),
      conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long").as("h"),
      col("doc_id"))
    d.groupBy("lang")
      .agg(graft.functions.BottomK.bottomK(5)(col("h"), col("doc_id")).as("_s"))
      .select(col("lang"), explode(col("_s")).as("pair"))
      .select(col("lang"), col("pair._1").as("h"), col("pair._2").as("doc_id"))
      .orderBy("lang", "h", "doc_id")
  }

  /** Adaptive per-language length filter: the percentile-band version
    * of a fixed min-token rule (Gopher's C4-style length filters are
    * absolute; multilingual corpora need PER-LANGUAGE bands because
    * token-length distributions differ by language). Each language's
    * exact interpolated [p5, p95] band is computed once (model-sized
    * per-group aggregate, broadcast back), then docs outside their
    * own language's band are dropped. Gated on the survivor set plus
    * per-language band edges — the oracle recomputes the same
    * interpolated percentiles (DuckDB `quantile_cont` ≡ Spark
    * `percentile`, both Type-7).
    */
  val q111AdaptiveLengthFilter: Q = (s, dir) => {
    val d = docs(s, dir).select(col("doc_id"), col("lang"),
      Text.tokenCount(col("text")).cast("long").as("tok"))
    val bands = d.groupBy("lang").agg(
      round(expr("percentile(tok, 0.05)"), 6).as("lo"),
      round(expr("percentile(tok, 0.95)"), 6).as("hi"))
    d.join(broadcast(bands), "lang")
      .filter(col("tok").cast("double") >= col("lo") &&
        col("tok").cast("double") <= col("hi"))
      .select(col("doc_id"), col("lang"), col("tok"), col("lo"), col("hi"))
      .orderBy("doc_id")
  }

  /** The (cy, cx) luma cell of q112's planted fixture image for a doc
    * id: tier = id/100000 (0 base, 1 = +5 global brightness shift, 2 =
    * one flipped gradient at (0,0)), base value
    * 20 + (i·37 + k(k+11) + (i mod 13)·cx) mod 200 with k = cy·9+cx.
    * The oracle (Oracles.scala q112) recomputes exactly this in SQL.
    */
  private def dhashFixtureCells(id: Long): Array[Int] = {
    val i = (id % 100000).toInt
    val tier = (id / 100000).toInt
    val cells = new Array[Int](72)
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 9) {
        val k = cy * 9 + cx
        var v = 20 + ((i * 37 + k * (k + 11) + (i % 13) * cx) % 200)
        if (tier == 1) v += 5
        cells(k) = v
        cx += 1
      }
      cy += 1
    }
    if (tier == 2) {
      val b00 = 20 + ((i * 37) % 200)
      val b01 = 20 + ((i * 37 + 12 + (i % 13)) % 200)
      cells(0) = if (b00 <= b01) 240 else 10
    }
    cells
  }

  /** Perceptual image near-dup ([[PerceptualHash]] over real
    * [[ImageIoCodec]] rasters): deterministic 18×16 grayscale PNGs
    * are planted in three tiers — base images, brightness-shifted
    * re-encodes (+5 gray everywhere: the classic
    * same-picture-different-encode near-dup, dHash distance 0), and
    * single-gradient-flip variants (exactly one of the 64 left-right
    * comparisons inverted, distance 1) — then every image runs the
    * REAL pipeline: PNG encode → ImageIO decode → exact-integer 9×8
    * luma grid → dHash → 4-band Hamming self-join → XOR/popcount
    * verify at radius 3. Recall is EXACT by pigeonhole (3 < 4 bands),
    * so the oracle can recompute the full ≤3-bit pair set
    * arithmetically from the planted cell formula — any decode or
    * banding bug (channel order, row stride, block boundaries, band
    * masks) breaks the hash gate.
    */
  val q112PerceptualNearDup: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir).select("doc_id")
    val ids = d.filter(col("doc_id") < 200).select(col("doc_id"))
      .unionByName(d.filter(col("doc_id") < 100)
        .select((col("doc_id") + 100000).as("doc_id")))
      .unionByName(d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 200000).as("doc_id")))
      .as[Long]
    val imgs = ids.mapPartitions(_.map { id =>
      (id, ImageIoCodec.grayGridPng(dhashFixtureCells(id), 2, 2))
    }).toDF("doc_id", "payload")
    val hashed = PerceptualHash.withDHash(imgs, "payload")
    PerceptualHash.nearDupPairs(hashed, "doc_id", "dhash",
        maxHamming = 3, bands = 4)
      .orderBy("id_a", "id_b")
  }

  /** PSL-backed registrable domain ([[Url.registrableDomainPsl]] /
    * the [[graft.functions.Psl]] kernel): planted URLs cover every
    * rule class of the publicsuffix.org algorithm — flat gTLD,
    * multi-label registry (co.uk, com.au, github.io), wildcard
    * (*.ck, *.kawasaki.jp), exception (!www.ck, !city.kawasaki.jp),
    * a bare public suffix (NULL domain), and an unknown TLD (the
    * implicit default rule). The oracle re-runs the SAME matching
    * algorithm in SQL against the same rule entries (longest match,
    * wildcard via parent suffix, exception priority), so a kernel bug
    * in any branch — or a drifted rule table — breaks the hash gate.
    * The two-label q92 key would collapse tiers 2/3 into `co.uk`;
    * this one keeps sites distinct, which is the whole point.
    */
  val q113PslDomain: Q = (s, dir) => {
    val d0 = docs(s, dir).select("doc_id").filter(col("doc_id") < 400)
    val i = col("doc_id")
    val t = i % 14
    val host = when(t === 0, lit("example.com"))
      .when(t === 1, concat(lit("www.example"), i % 7, lit(".com")))
      .when(t === 2, lit("news.bbc.co.uk"))
      .when(t === 3, concat(lit("a"), i % 5, lit(".b.co.uk")))
      .when(t === 4, concat(lit("user"), i % 11, lit(".github.io")))
      .when(t === 5, concat(lit("deep.sub.site"), i % 7, lit(".com.au")))
      .when(t === 6, lit("www.ck"))
      .when(t === 7, lit("foo.www.ck"))
      .when(t === 8, concat(lit("shop.bar"), i % 3, lit(".ck")))
      .when(t === 9, lit("city.kawasaki.jp"))
      .when(t === 10, lit("sub.city.kawasaki.jp"))
      .when(t === 11, concat(lit("blog.w"), i % 4, lit(".kawasaki.jp")))
      .when(t === 12, lit("github.io"))
      .otherwise(concat(lit("unknown"), i % 6, lit(".zz")))
    d0.select(col("doc_id"), host.as("host"),
        concat(lit("https://"), host, lit("/p"), i % 5, lit("?x=1")).as("url"))
      .select(col("doc_id"), col("host"),
        graft.functions.Url.registrableDomainPsl(col("url")).as("domain"))
      .orderBy("doc_id")
  }

  /** CCNet-style LM perplexity filter ([[LanguageModel]]): a bigram
    * LM with Laplace smoothing trains on the doc_id%10<8 slice (the
    * q35 split shape), every doc is scored, and docs above their
    * language's p75 perplexity band are dropped (CCNet's
    * tertile-on-Wikipedia-LM stage, Wenzek et al. LREC 2020). Exact
    * by the q98/Exact discipline — integer counts, 9-dp-rounded
    * per-bigram log-probs, DECIMAL sums — so the oracle replays
    * training, scoring, and the quantile band verbatim.
    */
  val q114PerplexityFilter: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "lang", "text")
    val train = d.filter(col("doc_id") % 10 < 8)
    val (bg, vocab) = LanguageModel.trainBigram(train, "text")
    val scored = LanguageModel.perplexity(d, "doc_id", "text", bg, vocab)
      .join(d.select("doc_id", "lang"), "doc_id")
    val bands = scored.groupBy("lang")
      .agg(round(expr("percentile(ppl, 0.75)"), 6).as("p75"))
    scored.join(broadcast(bands), "lang")
      .filter(col("ppl") <= col("p75"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("ppl"), col("p75"))
      .orderBy("doc_id")
  }

  /** Process-level memo of the q114/q115 trained bigram LM: one
    * model-sized collect per corpus dir (CCNet ships its LM as a
    * model file; this is the Spark analogue — see
    * [[graft.functions.BigramLm]]).
    */
  private val lmMemo =
    new java.util.concurrent.ConcurrentHashMap[String, graft.functions.BigramLm]()
  private def bigramLmFor(s: SparkSession, dir: String): graft.functions.BigramLm =
    lmMemo.computeIfAbsent(dir, _ => {
      val train = docs(s, dir).select("doc_id", "text")
        .filter(col("doc_id") % 10 < 8)
      val (bg, vocab) = LanguageModel.trainBigram(train, "text")
      val rows = bg.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      graft.functions.BigramLm(rows, vocab.head().getLong(0))
    })

  /** STREAMING LM perplexity scoring ([[graft.functions.LmKernel]]):
    * q114's scoring stage on a document stream — the trained model
    * rides the plan as a reference constant (the CCNet model-file
    * deployment shape), so scoring is a stateless map-side
    * projection: no shuffle, no watermark, no state store, no flush
    * batch (the q109 "every map-side operator is automatically
    * streaming-capable" claim, now holding for a MODEL-based stage).
    * The kernel's scaled-long arithmetic is numerically identical to
    * the batch operator's DECIMAL aggregation, so the oracle is
    * q114's scored table verbatim (no band filter).
    */
  val q115StreamingPerplexity: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val lm = bigramLmFor(s, dir)
    streamGate("q115in", dir, d)(
        _.select(col("doc_id"),
          graft.functions.LmExpressions.bigramPpl(Text.tokens(col("text")), lm).as("_s"))
        .filter(col("_s").isNotNull)
        .select(col("doc_id"), col("_s.n_bigrams").as("n_bigrams"),
          col("_s.ppl").as("ppl")))
      .orderBy("doc_id")
  }

  /** WEIGHTED grouped sampling without replacement (Efraimidis &
    * Spirakis, "Weighted random sampling with a reservoir", IPL 2006:
    * the k items with the smallest exponential keys −ln(u)/w are a
    * weighted sample) on the q110 mergeable bottom-k machinery — the
    * 100 TB shape for "sample 5 docs per language, proportional to
    * length": map-side partials reduce each (partition, lang) to ≤5
    * keys before the shuffle, NO per-key window. u is the q103
    * md5-prefix uniform (deterministic, content-keyed), the key is
    * 9-dp-scaled to an exact BIGINT so the gate is integer-exact, and
    * the weight is the doc's character count — long docs are sampled
    * proportionally more often, which a quality-biased export wants.
    */
  val q116WeightedSample: Q = (s, dir) => {
    val d = docs(s, dir).select(col("lang"), col("doc_id"),
      conv(substring(md5(col("text")), 1, 12), 16, 10).cast("double").as("_h"),
      greatest(col("n_chars"), lit(1L)).cast("double").as("_w"))
    val u = (col("_h") + 1.0) / lit(281474976710656.0) // 2^48 → u ∈ (0,1]
    val key = bround(-log(u) / col("_w") * 1e9).cast("long")
    d.select(col("lang"), key.as("k"), col("doc_id"))
      .groupBy("lang")
      .agg(graft.functions.BottomK.bottomK(5)(col("k"), col("doc_id")).as("_s"))
      .select(col("lang"), explode(col("_s")).as("pair"))
      .select(col("lang"), col("pair._1").as("k"), col("pair._2").as("doc_id"))
      .orderBy("lang", "k", "doc_id")
  }

  /** q117's planted frame grid: q112's cell formula with a frame
    * term (f·17). Tier 1 (+100000): +5 brightness on EVERY frame —
    * a re-encoded clip. Tier 2 (+200000): one flipped gradient in
    * frame 0 only — a lightly edited clip. The oracle replays this
    * exactly in SQL.
    */
  private def videoFixtureCells(id: Long, f: Int): Array[Int] = {
    val i = (id % 100000).toInt
    val tier = (id / 100000).toInt
    val cells = new Array[Int](72)
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 9) {
        val k = cy * 9 + cx
        var v = 20 + ((i * 37 + f * 17 + k * (k + 11) + (i % 13) * cx) % 200)
        if (tier == 1) v += 5
        cells(k) = v
        cx += 1
      }
      cy += 1
    }
    if (tier == 2 && f == 0) {
      val b00 = 20 + ((i * 37) % 200)
      val b01 = 20 + ((i * 37 + 12 + (i % 13)) % 200)
      cells(0) = if (b00 <= b01) 240 else 10
    }
    cells
  }

  /** VIDEO near-dup ([[GvidCodec]] + [[PerceptualHash]]): clips ride
    * as real container payloads (GRAFTVID: length-prefixed PNG
    * frames, demuxed and frame-decoded by the production ImageIO
    * stack — only real-world inter-frame codecs stay behind the
    * seam), frames are sampled through the [[Multimodal]] explode,
    * each frame dHashes, and clips match when ≥3 of 4 aligned frames
    * are within Hamming 3 — the standard shot-level video
    * fingerprinting shape (per-frame perceptual hash + temporal
    * voting). Planted: whole-clip re-encodes (brightness shift,
    * distance 0 every frame) and single-frame edits (one gradient
    * flip in frame 0 — still matches 4/4 at radius 3). Per-frame
    * recall is EXACT (pigeonhole banding), so the oracle recomputes
    * the full answer arithmetically from the planted cell formula.
    */
  val q117VideoNearDup: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir).select("doc_id")
    val ids = d.filter(col("doc_id") < 120).select(col("doc_id"))
      .unionByName(d.filter(col("doc_id") < 60)
        .select((col("doc_id") + 100000).as("doc_id")))
      .unionByName(d.filter(col("doc_id") < 30)
        .select((col("doc_id") + 200000).as("doc_id")))
      .as[Long]
    val vids = ids.mapPartitions(_.map { id =>
      (id, GvidCodec.encode((0 until 4).map(f =>
        ImageIoCodec.grayGridPng(videoFixtureCells(id, f), 2, 2))))
    }).toDF("doc_id", "payload")
    val frames = Multimodal.sampleFrames(vids, "doc_id", "payload", 4, GvidCodec)
    val hashed = PerceptualHash.withDHash(frames, "frame")
      // composite id aligns the per-frame band join: same-position
      // frames compare, vid order is preserved (frame_idx < 16)
      .select((col("doc_id") * 16 + col("frame_idx")).as("fid"), col("dhash"))
    PerceptualHash.nearDupPairs(hashed, "fid", "dhash", maxHamming = 3, bands = 4)
      .filter(pmod(col("id_a"), lit(16L)) === pmod(col("id_b"), lit(16L)))
      .select(expr("id_a div 16").as("id_a"), expr("id_b div 16").as("id_b"),
        pmod(col("id_a"), lit(16L)).as("_f"))
      .groupBy("id_a", "id_b")
      .agg(count_distinct(col("_f")).as("frames_matched"))
      .filter(col("frames_matched") >= 3)
      .orderBy("id_a", "id_b")
  }

  /** DSIR data selection ([[Dsir]]): the curated target slice is
    * sources src0+src1, the raw pool is everything else; hashed
    * unigram+bigram bucket models (B = 1024) fit on each corpus, every
    * raw doc scores Σ c_b·λ_b, and Gumbel-top-k draws 100 docs without
    * replacement ∝ exp(logw) (Xie et al., NeurIPS 2023 — the standard
    * pretraining data-selection stage; Kool et al., ICML 2019 for the
    * Gumbel machinery). Exact end-to-end — integer bucket counts, one
    * 9-dp-rounded ln per occurrence, DECIMAL(38,9) sums, md5-derived
    * uniform strictly inside (0,1) — so the oracle replays feature
    * hashing, both models, scoring, and the exact top-k.
    */
  val q118DsirSelect: Q = (s, dir) => {
    val b = 1024
    val d = docs(s, dir).select("doc_id", "source", "text")
    val isTarget = col("source").isin("src0", "src1")
    val raw = d.filter(!isTarget)
    // fits run fresh per call (this query IS the end-to-end DSIR
    // lifecycle); the fitted tables are MODEL-sized (≤ B rows each),
    // so collecting them into a DsirLm plan constant is the
    // seed/codebook precedent — λ_b is then computed ONCE PER BUCKET
    // on the driver instead of once per n-gram occurrence, and
    // scoring is the single-pass kernel projection q121 already
    // gates against this query's own oracle (numerically identical
    // to the importanceWeights aggregation by the DsirLm contract:
    // same exact integer products, same 9-dp λ, same exact sum, same
    // 6-dp round). The occurrence-explode + three broadcast joins +
    // decimal aggregation disappear from the plan.
    def modelRows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val lm = graft.functions.DsirLm(
      modelRows(Dsir.fitBucketCounts(d.filter(isTarget), "text", b)),
      modelRows(Dsir.fitBucketCounts(raw, "text", b)), b)
    val u = (conv(substring(md5(col("text")), 1, 12), 16, 10).cast("double") + 0.5) /
      lit(281474976710656.0) // (h48 + 0.5) / 2^48 ∈ (0,1), exact in double
    // the scored frame feeds BOTH the resample and the output
    // decoration join — materialize once (the bruteForceTopK persist
    // rationale)
    val w = {
      import graft.core.OpCache.TrackedPersist
      raw.select(col("doc_id"), col("source"), u.as("_u"),
          graft.functions.DsirExpressions.dsirLogWeight(
            Text.tokens(col("text")), lm).as("_s"))
        .filter(col("_s").isNotNull)
        .select(col("doc_id"), col("source"), col("_u"),
          col("_s.n_ngrams").as("n_ngrams"), col("_s.logw").as("logw"))
        .persistTracked
    }
    Dsir.resample(w, "doc_id", "logw", col("_u"), 100)
      .join(w.select("doc_id", "source", "n_ngrams", "logw"), "doc_id")
      .select("doc_id", "source", "n_ngrams", "logw", "key")
      .orderBy("key", "doc_id")
  }

  /** The 8 standing queries of [[q119HybridRrf]] — shared with the
    * oracle generator: query i uses 3 consecutive terms of the q79
    * list, and its dense twin is embedding vec_id = i.
    */
  val HybridQueries: Seq[(Long, Seq[String])] =
    (0 until 8).map(i => (i.toLong, Bm25MultiTerms.slice(i, i + 3)))

  /** Hybrid retrieval with reciprocal-rank fusion
    * ([[Retrieval.bm25TopKBatch]] ⊕ [[Similarity.bruteForceTopK]] →
    * [[Retrieval.rrfFuse]]): 8 standing queries, each with a sparse
    * form (3 BM25 terms) and a dense form (its embedding), retrieve
    * top-30 per modality and fuse with RRF c=60 into a top-20 — the
    * standard hybrid-search stack (Cormack et al., SIGIR 2009).
    * BATCH sparse scoring: ONE corpus pass for all 8 queries (union
    * tf-vector kernel + one mergeable stats row + grouped bottom-k),
    * never 8 scans. Fusion is integer-exact (10^12 div (c + rank)),
    * so the oracle replays both retrievers and the fusion bit-for-bit.
    */
  val q119HybridRrf: Q = (s, dir) => {
    val sparse = Retrieval.bm25TopKBatch(
      docs(s, dir), "doc_id", "text", HybridQueries, k = 30)
      .select("query_id", "doc_id", "rank")
    val emb = Tables.embeddings(s, dir)
    val dense = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding",
      k = 30, roundDp = -1, exact = true)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(Seq(sparse, dense), "query_id", "doc_id", "rank", k = 20)
      .orderBy("query_id", "rank")
  }

  /** Interpolated trigram perplexity
    * ([[LanguageModel.trainTrigram]]/[[LanguageModel.perplexityTrigram]]):
    * the q114 CCNet stage one n-gram order up — a Jelinek–Mercer
    * λ-mixture (0.6·p₃ + 0.3·p₂ + 0.1·p₁-Laplace) trained on the
    * doc_id%10<8 slice scores every doc. Context tables are row-sums
    * of the next order down (conditionals sum to 1); all four model
    * frames broadcast; the oracle replays training, the five model
    * joins, and the fixed λ-mix expression tree verbatim.
    */
  val q120TrigramPerplexity: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val train = d.filter(col("doc_id") % 10 < 8)
    val (tri, bi, uni, tot) = LanguageModel.trainTrigram(train, "text")
    LanguageModel.perplexityTrigram(d, "doc_id", "text", tri, bi, uni, tot)
      .orderBy("doc_id")
  }

  /** Process-level memo of the q118/q121 fitted DSIR bucket model:
    * two model-sized collects (≤ B rows each) per corpus dir — the
    * model-file deployment shape (see [[graft.functions.DsirLm]]).
    */
  private val dsirMemo =
    new java.util.concurrent.ConcurrentHashMap[String, graft.functions.DsirLm]()
  private def dsirLmFor(s: SparkSession, dir: String): graft.functions.DsirLm =
    dsirMemo.computeIfAbsent(dir, _ => {
      val d = docs(s, dir).select("doc_id", "source", "text")
      val isTarget = col("source").isin("src0", "src1")
      def rows(df: DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      graft.functions.DsirLm(
        rows(Dsir.fitBucketCounts(d.filter(isTarget), "text", 1024)),
        rows(Dsir.fitBucketCounts(d.filter(!isTarget), "text", 1024)), 1024)
    })

  /** STREAMING DSIR scoring ([[graft.functions.DsirKernel]]):
    * q118's importance-weight stage on a document stream — the fitted
    * bucket model rides the plan as a reference constant (80 KB of
    * dense λ longs), so scoring a live crawl is a stateless map-side
    * projection: no shuffle, no watermark, no state store, no flush
    * batch (the q115 model-as-plan-constant claim, holding for a
    * SECOND model family). The kernel's scaled-long arithmetic is
    * numerically identical to the batch operator's DECIMAL(38,9)
    * aggregation, so the oracle is q118's scored table verbatim
    * (no resampling step).
    */
  val q121StreamingDsir: Q = (s, dir) => {
    val raw = docs(s, dir).filter(!col("source").isin("src0", "src1"))
      .select("doc_id", "text")
    val lm = dsirLmFor(s, dir)
    streamGate("q121in", dir, raw)(
        _.select(col("doc_id"),
          graft.functions.DsirExpressions.dsirLogWeight(
            Text.tokens(col("text")), lm).as("_s"))
        .filter(col("_s").isNotNull)
        .select(col("doc_id"), col("_s.n_ngrams").as("n_ngrams"),
          col("_s.logw").as("logw")))
      .orderBy("doc_id")
  }

  /** Temperature-based domain mixing ([[Mixing]]): per-language α=0.3
    * sampling shares (the XLM-R low-resource-upweighting stage),
    * largest-remainder integer allocation of a 100-doc budget, and
    * the deterministic md5-bottom-k draw of each quota. One libm pow
    * per domain rounded to an exact scaled BIGINT; everything after
    * is integer arithmetic, so the oracle replays allocation and
    * draw bit-for-bit.
    */
  val q122TemperatureMix: Q = (s, dir) => {
    val d = docs(s, dir).select("lang", "doc_id", "text")
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n"))
    val quotas = Mixing.alphaQuotas(counts, "lang", alpha = 0.3, budget = 100)
    val h = conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long")
    Mixing.sampleQuotas(d, "lang", "doc_id", h, quotas, maxQuota = 100)
      .orderBy("lang", "pick")
  }

  /** WordPiece greedy segmentation ([[graft.functions.WordPieceKernel]]):
    * derive a subword inventory from corpus character statistics (all
    * single chars + top-150 char bigrams + top-100 trigrams + top-50
    * 4-grams, frequency-weighted), segment the DISTINCT-word table
    * with greedy longest-match-first (Song et al., EMNLP 2021 — the
    * BERT tokenizer family), and gate the corpus-frequency-weighted
    * piece rollup (q102's shape for a SECOND tokenizer family). The
    * oracle re-derives the inventory and replays the greedy walk with
    * a recursive CTE — every longest-match decision is under the gate.
    */
  val q123WordpieceVocab: Q = (s, dir) => {
    import graft.core.OpCache.TrackedPersist
    val words = docs(s, dir)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .persistTracked
    def grams(n: Int, k: Int): DataFrame = {
      val g = words.filter(length(col("w")) >= n)
        .select(col("freq"), explode(expr(
          s"transform(sequence(1, length(w) - ${n - 1}), i -> substring(w, i, $n))")).as("p"))
        .groupBy("p").agg(sum(col("freq")).as("f"))
      if (k <= 0) g.select("p")
      else g.orderBy(col("f").desc, col("p")).limit(k).select("p")
    }
    val pieces = grams(1, 0).unionByName(grams(2, 150))
      .unionByName(grams(3, 100)).unionByName(grams(4, 50))
      .distinct().collect().map(_.getString(0))
    val vocab = new graft.functions.WordPieceVocab(pieces)
    words
      .select(col("freq"),
        explode(graft.functions.WordPieceExpressions.wordPiece(col("w"), vocab))
          .as("subword"))
      .groupBy("subword").agg(sum("freq").as("freq"))
      .orderBy(col("freq").desc, col("subword")).limit(100)
  }

  /** The standard docs+mutants corpus (q32's) and its MEMOIZED
    * near-dup cluster labels: q32 demonstrates the clustering
    * operator itself; its downstream consumers (q124 profile, q128
    * survivor selection) read the labels from a per-dir parquet
    * fixture instead of re-clustering — the bpeMemo "compute once,
    * consume downstream" cost split. Their oracles still replay the
    * FULL clustering, so the fixture is gated transitively.
    */
  private def mutantCorpus(s: SparkSession, dir: String): DataFrame = {
    val d0 = docs(s, dir).select("doc_id", "text")
    d0.unionByName(d0.select(
      (col("doc_id") + 100000).as("doc_id"),
      concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000)).as("text")))
  }
  private def clusterLabelsFor(s: SparkSession, dir: String): DataFrame = {
    val p = memoFixture("q32labels", dir) { path =>
      val corpus = mutantCorpus(s, dir)
      val pairs = NearDup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.5)
      Dedup.componentsStar(corpus.select("doc_id"), "doc_id",
          pairs, "id_a", "id_b")
        .write.mode("overwrite").parquet(path)
      graft.core.OpCache.release()
    }
    s.read.parquet(p)
  }

  /** Corpus duplication profile: q32's near-dup clustering taken to
    * the curation deliverable every dedup decision starts from — the
    * cluster-size histogram ("how much of the corpus is duplicated,
    * and in what cluster sizes?"). Two map-side-combinable groupBys
    * over the label table (size per component, then histogram per
    * size) — nothing corpus-sized moves after the clustering itself.
    * The oracle replays the full reachability clustering plus the
    * same two rollups.
    */
  val q124DupProfile: Q = (s, dir) => {
    val labels = clusterLabelsFor(s, dir)
    labels.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))
      .orderBy("cluster_size")
  }

  /** Corpus drift report ([[Drift.klDrift]]): KL divergence between
    * two crawl snapshots' token distributions with per-token
    * contributions — planted drift: snapshot B lost every zh document
    * (a crawler regression), so the top contributors surging in A
    * relative to B are the Chinese tokens. Exact end-to-end (integer
    * counts, 9-dp ln over integer products, 12-dp contributions,
    * DECIMAL(38,12) total); the oracle replays counts, smoothing,
    * and the top-25.
    */
  val q125DriftReport: Q = (s, dir) => {
    val d = docs(s, dir).select("lang", "text")
    Drift.klDrift(d, d.filter(col("lang") =!= "zh"), "text", k = 25)
  }

  /** Quality-classifier calibration report: the DSIR log-odds score
    * IS a naive-Bayes "looks like the curated corpus" classifier —
    * train the bucket models on the even-id half, score the held-out
    * odd-id half, and sweep five thresholds into a confusion-matrix /
    * precision-recall table (the calibration step every production
    * quality filter ships with — GPT-3's LR-filter methodology).
    * Exact: counts are conditional integer sums; the two ratios are
    * one IEEE division each, 6-dp rounded. One threshold-exploded
    * map-side-combinable aggregate over the held-out scores.
    */
  val q126ClassifierEval: Q = (s, dir) => {
    val b = 1024
    val d = docs(s, dir).select("doc_id", "source", "text")
    val isTarget = col("source").isin("src0", "src1")
    val train = d.filter(col("doc_id") % 2 === 0)
    val held = d.filter(col("doc_id") % 2 === 1)
    val tc = Dsir.fitBucketCounts(train.filter(isTarget), "text", b)
    val rc = Dsir.fitBucketCounts(train.filter(!isTarget), "text", b)
    val w = Dsir.importanceWeights(held, "doc_id", "text", tc, rc, b)
      .join(held.select(col("doc_id"), isTarget.as("_pos")), "doc_id")
    val thrs = Seq(-20.0, -15.0, -10.0, -5.0, 0.0)
    w.select(col("_pos"), col("logw"),
        explode(array(thrs.map(lit): _*)).as("thr"))
      .groupBy("thr").agg(
        sum(when(col("_pos") && col("logw") >= col("thr"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("_pos") && col("logw") >= col("thr"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("_pos") && col("logw") < col("thr"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("_pos") && col("logw") < col("thr"), 1L).otherwise(0L)).as("tn"))
      .select(col("thr"), col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("tp").cast("double") /
          greatest(col("tp") + col("fp"), lit(1L)).cast("double"), 6).as("precision"),
        round(col("tp").cast("double") /
          greatest(col("tp") + col("fn"), lit(1L)).cast("double"), 6).as("recall"))
      .orderBy("thr")
  }

  /** q127's planted PCM grid: 65 slices × 16 samples. Slice 64 is
    * deliberately the loudest (200+i%50 vs ≤199 elsewhere) so bit 63
    * is always set for base clips. Tier 1 (+100000): every sample ×2
    * — a volume re-encode; all energy DELTAS keep their sign →
    * distance 0. Tier 2 (+200000): slice 64 silenced to 1 — a
    * localized edit flipping exactly bit 63 → distance 1. The oracle
    * replays this arithmetic with no audio stack.
    */
  private def audioFixtureSamples(id: Long): Array[Short] = {
    val i = (id % 100000).toInt
    val tier = (id / 100000).toInt
    val out = new Array[Short](65 * 16)
    var f = 0
    while (f < 65) {
      var k = 0
      while (k < 16) {
        val v0 = if (f == 64) 200 + (i % 50)
        else 40 + ((i * 29 + f * 13 + k * (k + 7) + (i % 11) * k) % 160)
        val v = if (tier == 2 && f == 64) 1
        else if (tier == 1) v0 * 2
        else v0
        out(f * 16 + k) = v.toShort
        k += 1
      }
      f += 1
    }
    out
  }

  /** AUDIO perceptual near-dup ([[WavCodec.energyHash64]] +
    * [[PerceptualHash]]): clips ride as real WAV payloads, decode
    * through the production javax.sound stack, fingerprint as the
    * 64-bit energy-delta hash (Haitsma & Kalker ISMIR 2002 reduced to
    * the time axis — exact integer Σ sample² per slice, sign of
    * adjacent-slice deltas), and pair up through the same 4-band
    * Hamming pigeonhole join as images (q112) and video (q117) — the
    * third modality on one near-dup machinery. Planted: volume
    * re-encodes (distance 0) and one-slice edits (distance 1); recall
    * is exact, so the oracle recomputes the full pair set
    * arithmetically from the planted sample formula.
    */
  val q127AudioNearDup: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir).select("doc_id")
    val ids = d.filter(col("doc_id") < 150).select(col("doc_id"))
      .unionByName(d.filter(col("doc_id") < 75)
        .select((col("doc_id") + 100000).as("doc_id")))
      .unionByName(d.filter(col("doc_id") < 40)
        .select((col("doc_id") + 200000).as("doc_id")))
      .as[Long]
    val wavs = ids.mapPartitions(_.map { id =>
      (id, WavCodec.encodePcm16Wav(audioFixtureSamples(id), 8000f, 1))
    }).toDF("doc_id", "payload")
    val hashed = PerceptualHash.withDHash(wavs, "payload",
      hasher = WavCodec.energyHash64)
    PerceptualHash.nearDupPairs(hashed, "doc_id", "dhash",
        maxHamming = 3, bands = 4)
      .orderBy("id_a", "id_b")
  }

  /** Quality-aware survivor selection: per near-dup cluster, keep the
    * HIGHEST-QUALITY copy (ties → lowest id) instead of q49's min-id
    * policy — what a curation pipeline actually wants ("keep the best
    * copy, not the first crawled"). Survivor = two map-side-combinable
    * groupBys + an equi-join back (max quality per component, then
    * min id among the maxima) — NO per-component window, the same
    * anti-window discipline as the star rounds. Quality is the q18
    * rule score (6-dp rounded, replayable); the oracle replays
    * clustering, scoring, and both selection steps.
    */
  val q128QualitySurvivors: Q = (s, dir) => {
    val corpus = mutantCorpus(s, dir)
    val labels = clusterLabelsFor(s, dir)
    val scored = corpus.select(col("doc_id"),
      round(Text.qualityScore(col("text")), 6).as("quality"))
    val lab = labels.join(scored, labels("v") === scored("doc_id"))
      .select(col("comp"), col("doc_id"), col("quality"))
    val best = lab.groupBy("comp").agg(max(col("quality")).as("quality"))
    val sizes = lab.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    lab.join(best, Seq("comp", "quality"))
      .groupBy("comp", "quality")
      .agg(min(col("doc_id")).as("survivor_id"))
      .join(sizes, Seq("comp"))
      .select(col("comp"), col("cluster_size"), col("survivor_id"), col("quality"))
      .orderBy("comp")
  }

  /** Sub-document duplication diagnostic
    * ([[Dedup.duplicatedWindowRatio]]): per-doc fraction of 10-token
    * windows shared with other documents, over the corpus plus its
    * first-token-dropped mutants (planted heavy overlap — each
    * mutant shares almost every window with its source). The oracle
    * replays window extraction, document frequencies, and the ratio
    * with window STRINGS (the engine rides 8-byte hashes — the q42
    * collision argument).
    */
  val q129DupWindowRatio: Q = (s, dir) => {
    val d0 = docs(s, dir).select("doc_id", "text")
    val mutated = d0.select(
      (col("doc_id") + 100000).as("doc_id"),
      concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000)).as("text"))
    Dedup.duplicatedWindowRatio(d0.unionByName(mutated), "doc_id", "text",
        windowTokens = 10)
      .orderBy("doc_id")
  }

  /** Cross-corpus overlap estimation ([[KmvSetOps]], Beyer et al.
    * SIGMOD 2007): "how much does this crawl overlap the last one?"
    * answered from two 128-hash KMV sketches of the snapshots'
    * 3-gram shingle sets — union cardinality from the merged k-th
    * minimum, Jaccard from the merged-set membership fraction,
    * intersection from their product — beside the exact counts and
    * ±envelope booleans. Deterministic end-to-end (md5-prefix
    * hashing), so every estimate rides the hash gate; sketch build is
    * distinct-collapse + TakeOrdered (per-partition k, k-row merge).
    */
  val q130CorpusOverlap: Q = (s, dir) => {
    val k = 128
    val d = docs(s, dir).select("doc_id", "text")
    def sh(pred: Column) = d.filter(pred)
      .select(explode(NearDup.shingles(col("text"), 3)).as("sh"))
    val a = sh(col("doc_id") % 2 === 0)
    val b = sh(col("doc_id") % 2 === 1)
    val est = KmvSetOps.overlapEstimate(
      KmvSetOps.kmvSketch(a, col("sh"), k),
      KmvSetOps.kmvSketch(b, col("sh"), k), k)
    val da = a.distinct()
    val db = b.distinct()
    val exact = da.unionByName(db).distinct()
      .agg(count(lit(1)).as("exact_union"))
      .crossJoin(da.join(db, Seq("sh"), "left_semi")
        .agg(count(lit(1)).as("exact_inter")))
    est.crossJoin(broadcast(exact))
      .select(col("k"), col("h_k"), col("union_est"), col("jaccard_est"),
        col("intersection_est"), col("exact_union"), col("exact_inter"),
        (abs(col("union_est") - col("exact_union")) <=
          col("exact_union") * 0.25).as("union_within"),
        (abs(col("intersection_est") - col("exact_inter")) <=
          col("exact_inter") * 0.35).as("inter_within"))
  }

  /** Triangle counting ([[Triangles.triangleCount]], Suri &
    * Vassilvitskii WWW 2011): degree-ordered node iteration over a
    * deterministic planted graph (each doc wires a 3-cycle through
    * two modular neighbors, so triangles exist by construction and
    * overlap across docs). Integer-only; the oracle counts the same
    * graph with the naive canonical three-way join, which the
    * skew-proof degree-ordered plan must equal exactly.
    */
  val q131Triangles: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id")
    val base = d.crossJoin(broadcast(d.agg(count(lit(1)).as("_n"))))
    val v1 = (col("doc_id") * 7 + 3) % col("_n")
    val v2 = (col("doc_id") * 13 + 5) % col("_n")
    val edges = base.select(col("doc_id").as("x"), v1.as("y"))
      .unionByName(base.select(col("doc_id").as("x"), v2.as("y")))
      .unionByName(base.select(v1.as("x"), v2.as("y")))
    Triangles.triangleCount(edges, "x", "y")
  }

  /** The exact top-5 gold of the 50 ANN probe queries (vec_id < 50):
    * q17's retriever written once per corpus dir, the one gold every
    * ANN recall report reads (the label-fixture cost split; the
    * oracles replay it in full).
    */
  private def exactGold(emb: DataFrame, dir: String): String =
    memoFixture("q132exact", dir) { p =>
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 50), emb, "vec_id",
          "embedding", k = 5, roundDp = -1, exact = true)
        .select(col("query_id"), col("neighbor_id"))
        .write.mode("overwrite").parquet(p)
      graft.core.OpCache.release()
    }

  /** ANN index-quality report: recall@5 of the seeded IVF index (the
    * q29 configuration) against the exact brute-force top-5 (the q17
    * gold), per query plus the corpus mean — the eval every
    * production ANN deployment ships with ("is nProbe=4 good
    * enough?"). Membership is a semi-join of the two top-k lists;
    * ratios are exact-integer counts over one 6-dp division. Both
    * retrievers and the recall arithmetic replay in the oracle.
    */
  val q132AnnRecall: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 50)
    val exact = s.read.parquet(exactGold(emb, dir))
    val approx = Similarity.ivfTopKSeeded(q, emb, emb.filter(col("vec_id") < 16),
        "vec_id", "embedding", k = 5, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"))
    val matched = approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_matched"))
    val perQ = exact.groupBy("query_id").agg(count(lit(1)).as("_k"))
      .join(matched, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        round(coalesce(col("n_matched"), lit(0L)).cast("double") /
          col("_k").cast("double"), 6).as("recall"))
    val mean = perQ.agg(round(sum(col("n_matched")).cast("double") /
      (count(lit(1)) * lit(5L)).cast("double"), 6).as("mean_recall"))
    perQ.crossJoin(broadcast(mean)).orderBy("query_id")
  }

  /** LSH banding auto-tuning ([[NearDup.lshTuningTable]]): the
    * S-curve table for every factorization of the production 32-hash
    * signature, PLUS the empirical expected recall each banding
    * would achieve on THIS corpus — the q15 exact pair set binned at
    * 2 dp, Σ cnt·p_catch(j) as exact scaled-integer arithmetic. What
    * a curation team reads before a dedup campaign ("8×4 catches
    * 99.8% of j≥0.8 pairs and 41% of the j≈0.3 noise; 4×8 flips
    * that"). Oracle replays the S-curve, the binning, and the
    * expectation; pow boundary margins audited.
    */
  val q133LshTuning: Q = (s, dir) => {
    val sh = docs(s, dir).filter(col("doc_id") < 200)
      .select(col("doc_id"), NearDup.shingles(col("text"), 3).as("sh"))
    val pairs = sh.select(col("doc_id").as("id_a"), col("sh").as("sha"))
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("shb")),
        col("id_a") < col("id_b"))
      .withColumn("jaccard", NearDup.jaccard(col("sha"), col("shb")))
      .filter(col("jaccard") >= 0.02)
    val bins = pairs.select(round(col("jaccard"), 2).as("jb"))
      .groupBy("jb").agg(count(lit(1)).as("cnt"))
    val table = NearDup.lshTuningTable(s, 32, jHigh = 0.8, jLow = 0.3)
    table.crossJoin(bins)
      .withColumn("_ps", round((lit(1.0) -
        pow(lit(1.0) - pow(col("jb"), col("rows_per_band")), col("bands"))) * 1e9)
        .cast("long"))
      .groupBy("bands", "rows_per_band", "p_catch_high", "p_catch_low", "s_midpoint")
      .agg(sum(col("cnt") * col("_ps")).as("_s"), sum(col("cnt")).as("n_pairs"))
      .select(col("bands"), col("rows_per_band"), col("p_catch_high"),
        col("p_catch_low"), col("s_midpoint"),
        round(col("_s").cast("double") / lit(1e9) /
          col("n_pairs").cast("double"), 6).as("expected_catch"),
        col("n_pairs"))
      .orderBy("bands")
  }

  /** Multi-signal ensemble dedup: text near-dup pairs (MinHash LSH,
    * j ≥ 0.5, over the mutant corpus) UNION embedding-similarity
    * pairs (SemDeDup cell-bounded generator — [[Similarity.cellPairs]]
    * over the FULL embeddings table, decimal-exact cosine ≥ 0.4 on
    * the cell sliver) feed ONE componentsStar — the production
    * pattern where lexical and semantic evidence jointly decide
    * cluster membership (a doc and its mutant chain lexically; two
    * paraphrases chain semantically; the union transitively merges
    * both). BOTH pair generators are bounded: LSH candidates ∝
    * colliding bands, semantic candidates ∝ Σ|cell|² — no all-pairs
    * join anywhere (PlanShapeSpec locks no-BroadcastNestedLoopJoin).
    * Labels are global min-ids as everywhere; the oracle replays both
    * pair generators (including the cell argmax assignment) and the
    * reachability fold.
    */
  val q134EnsembleDedup: Q = (s, dir) => {
    val corpus = mutantCorpus(s, dir)
    val textPairs = NearDup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b")
    val emb = Tables.embeddings(s, dir)
    val embPairs = Similarity.cellPairs(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", threshold = 0.4)
      .select("id_a", "id_b")
    Dedup.componentsStar(corpus.select("doc_id"), "doc_id",
        textPairs.unionByName(embPairs), "id_a", "id_b")
      .select(col("v").as("doc_id"), col("comp"))
      .orderBy("doc_id")
  }

  /** Training-export shard manifest: the per-shard statistics table
    * every export ships beside its data — chunk/doc/token counts plus
    * an ORDER-INDEPENDENT content fingerprint (bit_xor of md5-48 row
    * digests — any lost, duplicated, or altered row flips it; XOR
    * commutes, so the manifest is identical at any write
    * parallelism). One map-side-combinable groupBy over the q100
    * packed table; the oracle replays the whole pipeline plus the
    * digest arithmetic.
    */
  val q135ExportManifest: Q = (s, dir) => {
    val rowKey = concat_ws(":", col("doc_id"), col("chunk_idx"),
      col("n_tokens"), col("seq_idx"), col("seq_pos"))
    exportPacked(s, dir)
      .withColumn("_h",
        conv(substring(md5(rowKey), 1, 12), 16, 10).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        bit_xor(col("_h")).as("content_fp"))
      .orderBy("shard")
  }

  /** Poisson-bootstrap CI ([[Bootstrap.meanCi]]): a 90% confidence
    * interval for the corpus mean quality score from 32 deterministic
    * Poisson(1)-weighted replicates in ONE corpus pass (Chamandy et
    * al. 2012 — the bootstrap at scale). Every replicate weight
    * inverts the Poisson CDF on an md5-derived uniform, so the whole
    * interval is a pure function of corpus content and the oracle
    * replays weights, replicate means, and the order statistics.
    */
  val q136BootstrapCi: Q = (s, dir) => {
    val scored = docs(s, dir).select(col("doc_id"),
      round(Text.qualityScore(col("text")), 6).as("q"))
    Bootstrap.meanCi(scored, col("doc_id"), col("q"),
      replicates = 32, alpha = 0.05)
  }

  /** Cluster-aware k-fold assignment: every near-dup cluster lands
    * WHOLLY in one of 5 cross-validation folds (fold = md5-48(comp)
    * % 5 — content-keyed, so folds are stable across runs and
    * re-crawls), the q95 leakage-free-split guarantee generalized
    * from one holdout to k folds. The output's
    * `clusters_spanning_folds` column is the guarantee made
    * measurable: 0 by construction, and the oracle recomputes it
    * from its own replayed clustering — a partitioner bug that split
    * a cluster would flip the gate.
    */
  val q137ClusterFolds: Q = (s, dir) => {
    val labels = clusterLabelsFor(s, dir)
      .withColumn("fold",
        pmod(conv(substring(md5(col("comp").cast("string")), 1, 12), 16, 10)
          .cast("long"), lit(5L)))
    val perFold = labels.groupBy("fold")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("comp")).as("n_clusters"))
    val spanning = labels.groupBy("comp")
      .agg(count_distinct(col("fold")).as("_nf"))
      .agg(sum(when(col("_nf") > 1, 1L).otherwise(0L)).as("clusters_spanning_folds"))
    perFold.crossJoin(broadcast(spanning)).orderBy("fold")
  }

  /** Corpus snapshot diff ([[Snapshot.diffReport]]): the churn ledger
    * between crawl N and crawl N+1 — a deterministic new snapshot is
    * derived from `documents` (every 7th doc dropped, every 5th
    * surviving doc re-crawled with its first token lost, every 3rd
    * doc re-appearing under a new id) and diffed against the
    * original by content hash. Only (id, md5) pairs ever shuffle —
    * the text column dies at the scan — and the report is exact
    * counts plus one 6-dp share division, so the whole query rides
    * the hash gate.
    */
  val q138SnapshotDiff: Q = (s, dir) => {
    val d0 = docs(s, dir).select("doc_id", "text")
    val mutated = concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000))
    val b = d0.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, mutated).otherwise(col("text")).as("text"))
      .unionByName(d0.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))
    Snapshot.diffReport(d0, b, "doc_id", "text")
  }

  /** Zipf's-law fit ([[CorpusStats.zipfFit]]): OLS of ln(freq) on
    * ln(rank) over the 300 most frequent tokens — slope ≈ −1 is the
    * signature of natural language (Zipf 1949), and a corpus whose
    * slope drifts toward 0 (flat head = template spam) or −2
    * (keyword stuffing) fails the cheapest health check in the
    * curation playbook. One map-side-combinable count, a TakeOrdered
    * head, and a DECIMAL-exact OLS whose only floating-point ops are
    * the three final divisions — the oracle replays every cast.
    */
  val q139ZipfFit: Q = (s, dir) =>
    CorpusStats.zipfFit(
      docs(s, dir).select(explode(Text.tokens(col("text"))).as("tok")),
      "tok", topK = 300)

  /** Lake-format interchange with a PRUNED read-back
    * ([[Interchange]]): docs → lang-partitioned ORC → read with a
    * partition filter (lang ∈ {en, de} — 2 of 5 directories even
    * touched) AND a data filter (n_chars ≥ 200) pushed into the ORC
    * stripe min-max index, aggregated per lang with an
    * order-independent md5-48 XOR content fingerprint. q66 gates ORC
    * LOSSLESSNESS; this query gates the SCAN-TIME PRUNING that makes
    * a 100 TB lake read viable — PlanShapeSpec plan-locks
    * PartitionFilters, PushedFilters and the pruned ReadSchema on
    * exactly this shape. The oracle aggregates the ORIGINAL parquet
    * under the same predicates: a dropped partition directory, a
    * mis-typed partition value, or an over-eager stripe skip all
    * flip the fingerprint.
    */
  val q140OrcPrunedScan: Q = (s, dir) => {
    val tmp = Scratch.fresh("q140")
    Interchange.writeOrc(
      docs(s, dir).select("doc_id", "lang", "n_chars", "text"), tmp, Seq("lang"))
    Interchange.readOrc(s, tmp)
      .filter(col("lang").isin("en", "de") && col("n_chars") >= 200)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        bit_xor(conv(substring(md5(concat_ws(":", col("doc_id"), col("text"))), 1, 12), 16, 10)
          .cast("long")).as("content_fp"))
      .orderBy("lang")
  }

  /** Unigram-LM (SentencePiece-style) tokenizer TRAINING
    * ([[UnigramTrainer]], Kudo ACL 2018) — the third production
    * tokenizer family beside BPE (q99) and WordPiece (q123): seed
    * inventory (all corpus chars + top-300 substrings ≤ 4 chars,
    * occurrence-weighted), then 2 hard-EM rounds of Viterbi
    * segmentation over the distinct-word table with add-one
    * re-estimation. Output = the full final piece table (piece, raw
    * round-2 Viterbi count, re-estimated 9-dp-scaled neg-log-prob).
    * Costs are integer-exact scaled longs, so the oracle replays
    * seeding, BOTH rounds' DP (a `list_reduce` Viterbi fold per
    * word), the argmin backtrack (ties → longest piece), and the
    * M-step arithmetic — every EM decision is under the gate.
    */
  val q141UnigramTrain: Q = (s, dir) =>
    UnigramTrainer.train(
      UnigramTrainer.distinctWords(docs(s, dir), "text"),
      maxPieceLen = 4, topKMulti = 300, emRounds = 2)
      .orderBy("piece")

  /** Unigram-LM tokenizer APPLICATION (q141's train-then-apply twin,
    * the q102/q123 rollup shape): Viterbi-segment the distinct-word
    * table under the TRAINED 2-round model ([[UnigramTrainer
    * .trainModel]] — a plan-reference constant, so application is
    * map-side and streaming-capable) and gate the corpus-frequency-
    * weighted piece rollup. The oracle unrolls a THIRD Viterbi pass
    * under its replayed round-2 model; UnigramSpec locks the
    * kernel's minimize-total-neg-log-prob property against a driver
    * replay and its divergence from WordPiece's greedy walk.
    */
  val q144UnigramSegment: Q = (s, dir) => {
    val words = UnigramTrainer.distinctWords(docs(s, dir), "text")
    val model = UnigramTrainer.trainModel(words,
      maxPieceLen = 4, topKMulti = 300, emRounds = 2)
    words.select(col("freq"),
        explode(graft.functions.UnigramExpressions.unigramSegment(col("w"), model))
          .as("subword"))
      .groupBy("subword").agg(sum("freq").as("freq"))
      .orderBy(col("freq").desc, col("subword")).limit(100)
  }

  /** Unigram-LM vocabulary PRUNING ([[UnigramTrainer.trainPruned]]):
    * the --vocab_size knob that turns q141's trainer into a
    * production tokenizer — after 2 hard-EM rounds, single chars
    * survive unconditionally (coverage) and only the top-64
    * multi-char pieces by final-round usage keep their slots;
    * probabilities re-estimate over the pruned inventory and one
    * more Viterbi pass yields the final table. The oracle replays
    * seeding, both EM rounds, the count-ordered prune, the
    * re-estimate, and the third DP pass.
    */
  val q152UnigramPrune: Q = (s, dir) =>
    UnigramTrainer.trainPruned(
      UnigramTrainer.distinctWords(docs(s, dir), "text"),
      maxPieceLen = 4, topKMulti = 300, emRounds = 2, pruneToMulti = 64)
      .orderBy("piece")

  /** Per-doc unigram entropy ([[CorpusStats.tokenEntropy]]): the
    * keyword-stuffing detector — H = ln n − (Σ c·ln c)/n in nats
    * over each document's token counts, with the low-entropy flag a
    * curation cascade would gate on. The c·ln c products are
    * DECIMAL-exact (never double products — 17-significant-digit
    * quantization would tie-split engines); docs with no tokens are
    * absent by construction on both engines.
    */
  val q142TokenEntropy: Q = (s, dir) =>
    CorpusStats.tokenEntropy(docs(s, dir), "doc_id", "text")
      .withColumn("low_entropy", col("entropy") < 3.0)
      .orderBy("doc_id")

  /** PMI collocations ([[CorpusStats.pmiCollocations]], Church &
    * Hanks 1990): the 40 strongest adjacent-pair associations with
    * count ≥ 5 — the corpus's phrasebook, and a drift probe when
    * diffed across snapshots. Counts exact, PMI a 9-dp ln of a
    * ratio of exact long products, ties broken on the pair.
    */
  val q143PmiCollocations: Q = (s, dir) =>
    CorpusStats.pmiCollocations(docs(s, dir), "text", minCount = 5L, topK = 40)

  /** Shuffle-skew diagnosis ([[SkewReport.keyProfile]]): the top-10
    * hottest tokens of the corpus token stream with share, suggested
    * salt factor at 1000 rows/sub-key, and the distribution columns
    * (n_keys, total, max, exact p99, skew factor) — the report an
    * engineer reads before shipping a token-keyed join, computed
    * without ever sorting the key table (the p99 runs on the
    * frequency-of-frequencies table; the head is TakeOrdered).
    */
  val q145SkewReport: Q = (s, dir) =>
    SkewReport.keyProfile(
      docs(s, dir).select(explode(Text.tokens(col("text"))).as("tok")),
      "tok", topN = 10, targetRowsPerKey = 1000L)

  /** ExactSubstr duplicated-span REMOVAL
    * ([[ExactSubstr.removeDuplicatedSpans]], Lee et al. ACL 2022):
    * the curation step q129's duplication report feeds — over the
    * same doc∪mutant corpus, delete every token covered by a
    * duplicated 10-token window and re-emit cleaned text + removal
    * stats. Mutant-twinned docs lose their shared spans on BOTH
    * sides (only the mutant-unique seam tokens survive); dup-free
    * docs pass through byte-identical at token granularity. The
    * oracle replays window df, positional coverage, the interval
    * union, and every cleaned string; ExactSubstrSpec adds the
    * construction property (no duplicated window survives intact).
    */
  val q146ExactSubstr: Q = (s, dir) =>
    ExactSubstr.removeDuplicatedSpans(
      mutantCorpus(s, dir), "doc_id", "text", windowTokens = 10)
      .orderBy("doc_id")

  /** SEMANTIC benchmark decontamination ([[Similarity.nearestSeed]]):
    * the embedding-side complement of q46/q63's exact-window
    * contamination scan — paraphrased eval leakage shares no 10-token
    * window but sits close in embedding space. Every held-out "eval"
    * vector (vec_id % 50 == 0 — model-sized by construction, the
    * benchmark contract) becomes a plan literal; each corpus vector's
    * nearest benchmark + decimal-exact cosine computes MAP-SIDE (the
    * q47 argmax machinery), and vectors at cosine ≥ 0.4 are flagged
    * with their contaminating benchmark id. Sim is the raw
    * exact-arithmetic double — bit-identical cross-engine, no
    * rounding. The oracle replays the full |corpus|×|bench| argmax
    * (fine at oracle scale; the ENGINE never materializes that
    * product — seeds are literals, vectors never leave their map
    * task).
    */
  val q147SemanticContamination: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.nearestSeed(
        emb.filter(col("vec_id") % 50 =!= 0),
        emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding")
      .filter(col("sim") >= 0.4)
      .select(col("vec_id"), col("cell").as("bench_id"), col("sim"))
      .orderBy("vec_id")
  }

  /** Interpolated KNESER-NEY perplexity ([[LanguageModel
    * .perplexityKneserNey]]): the production n-gram smoothing (what
    * KenLM — and therefore CCNet's actual scorer — ships by default)
    * beside Laplace (q114) and Jelinek-Mercer (q120): absolute
    * discounting plus the continuation distribution, which
    * down-weights frequent-but-context-bound tokens. Same train
    * split and scoring discipline as q114 (counts exact, ONE fixed
    * IEEE probability tree over the dyadic D = 0.75, 9-dp ln before
    * the exact DECIMAL mean); the oracle replays training, all four
    * model statistics and the full formula.
    */
  val q150KneserNeyPerplexity: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val (bg, _) = LanguageModel.trainBigram(
      d.filter(col("doc_id") % 10 < 8), "text")
    LanguageModel.perplexityKneserNey(byDocId(d), "doc_id", "text", bg)
      .orderBy("doc_id")
  }

  /** Token-budget corpus selection ([[BudgetSelect.selectByQuality]]):
    * "the best documents until 12k tokens are spent" with ORDER BY
    * (quality DESC, id) prefix semantics but NO corpus-sized sort or
    * window — quality classes (model-sized, 6-dp grid) →
    * consecutive-id buckets (≤ 4096 docs each) → one bounded
    * boundary bucket. The oracle IS the global window replay
    * (SUM OVER (ORDER BY q DESC, doc_id) ≤ budget) — the hierarchical
    * refinement must reproduce it id for id.
    */
  val q151BudgetSelect: Q = (s, dir) => {
    val scored = docs(s, dir).select(col("doc_id"),
      round(Text.qualityScore(col("text")), 6).as("q"),
      size(Text.tokens(col("text"))).cast("long").as("n"))
    BudgetSelect.selectByQuality(scored, "doc_id", "q", "n",
        budgetTokens = 12000L)
      .orderBy("doc_id")
  }

  /** Containment dedup ([[NearDup.containmentPairs]], Broder 1997):
    * the asymmetric signal — a 12-token excerpt quoted inside a
    * 50-token document has Jaccard ≈ 0.2 (invisible to q16's
    * symmetric machinery) but containment 1.0. Planted quote docs
    * (12-token excerpts of every 7th document) must surface against
    * their sources at C ≥ 0.9; candidates come from PREFIX
    * FILTERING on each doc's globally-rarest shingles (banding would
    * miss exactly these pairs — its collision law follows symmetric
    * Jaccard), which is COMPLETE by construction, so the oracle is
    * the brute-force all-pairs form with shingle STRINGS (q42's
    * collision argument for the engine's 8-byte hashes).
    */
  val q153ContainmentDedup: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val quotes = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat_ws(" ", slice(Text.tokens(col("text")), 3, 12)).as("text"))
    NearDup.containmentPairs(d.unionByName(quotes), "doc_id", "text",
        threshold = 0.9, n = 5)
      .orderBy("id_a", "id_b")
  }

  /** Source-reputation report ([[CorpusStats.groupEntropy]] + exact
    * rollups): the per-`source` curation table a crawl team reads
    * before setting domain rules (RefinedWeb-style source triage) —
    * doc/token volume, mean quality (exact DECIMAL mean of the 6-dp
    * score), language diversity (count + entropy of the lang
    * distribution, DECIMAL-exact c·ln c), and a low_quality flag
    * against the corpus-wide mean. Everything is one or two
    * map-side-combinable groupBys; the flag compares against a
    * broadcast one-row scalar. Oracle replays every column.
    */
  val q154SourceReport: Q = (s, dir) => {
    val d = docs(s, dir)
    val q = round(Text.qualityScore(col("text")), 6)
    val base = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(Text.tokens(col("text"))).cast("long")).as("total_tokens"),
      round(Exact.davg(q, scale = 9), 6).as("mean_quality"))
    val ent = CorpusStats.groupEntropy(d.select("source", "lang"), "source", "lang")
      .select(col("source"), col("n_distinct").as("n_langs"),
        col("entropy").as("lang_entropy"))
    val overall = d.agg(round(Exact.davg(q, scale = 9), 6).as("_m"))
    base.join(ent, "source")
      .crossJoin(broadcast(overall))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("mean_quality"), col("n_langs"), col("lang_entropy"),
        (col("mean_quality") < col("_m")).as("low_quality"))
      .orderBy("source")
  }

  /** STREAMING semantic decontamination ([[Similarity
    * .nearestSeedRowwise]]): q147 under the real micro-batch runtime.
    * The benchmark rides as plan literals and the nearest-benchmark
    * argmax is a PURE PER-ROW PROJECTION (`array_position(array_max)`
    * — tie to the lowest seed id, identical to the batch rule), so
    * the stream is stateless: no watermark, no state store, no flush
    * batch — ingest-time eval screening at file-arrival latency. The
    * oracle is q147's SQL verbatim (stream ≡ batch bit-for-bit).
    */
  val q149StreamingSemanticContamination: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.filter(col("vec_id") % 50 =!= 0).select("vec_id", "embedding")
    val bench = emb.filter(col("vec_id") % 50 === 0)
    streamGate("q149in", dir, corpus)(
        Similarity.nearestSeedRowwise(_, bench, "vec_id", "embedding")
          .filter(col("sim") >= 0.4)
          .select(col("vec_id"), col("cell").as("bench_id"), col("sim")))
      .orderBy("vec_id")
  }

  /** INCREMENTAL ExactSubstr ([[ExactSubstr
    * .removeDuplicatedSpansIncremental]], the q85/q105 incremental
    * discipline applied to q146): the history corpus is touched only
    * through its stored 16-byte/window df index (written at ingest —
    * never re-tokenized); the delta (fresh docs + tail-mutants of
    * late-history docs, q85's split) is cleaned against
    * history ∪ delta. Delta window duplicated ⇔ history-df +
    * delta-df ≥ 2 — exactly the batch rule, so the oracle replays
    * the BATCH q146 semantics over the union, restricted to delta
    * ids (incremental ≡ from-scratch under the gate).
    */
  val q148IncrementalExactSubstr: Q = (s, dir) => {
    val tmp = Scratch.fresh("q148")
    val d = docs(s, dir).select("doc_id", "text")
    val history = d.filter(col("doc_id") < 400)
    val mutants = d.filter(col("doc_id") >= 350 && col("doc_id") < 450)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000)).as("text"))
    val delta = d.filter(col("doc_id") >= 400).unionByName(mutants)
    // ingest-time state: the history window-df index
    ExactSubstr.windowDfTable(history, "doc_id", "text", windowTokens = 10)
      .write.mode("overwrite").parquet(s"$tmp/windf")
    ExactSubstr.removeDuplicatedSpansIncremental(
        s.read.parquet(s"$tmp/windf"), delta, "doc_id", "text", windowTokens = 10)
      .orderBy("doc_id")
  }

  val q85IncrementalNearDup: Q = (s, dir) => {
    val tmp = Scratch.fresh("q85")
    val d = docs(s, dir).select("doc_id", "text")
    val history = d.filter(col("doc_id") < 400)
    val mutants = d.filter(col("doc_id") >= 350 && col("doc_id") < 450)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000)).as("text"))
    val delta = d.filter(col("doc_id") >= 400).unionByName(mutants)
    // ingest-time state: the history band index (bands × 16 bytes/doc)
    NearDup.bandIndex(history, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/bands")
    val bandState = s.read.parquet(s"$tmp/bands")
    val (pairs, _) = NearDup.incrementalNearDupPairs(
      bandState, history, delta, "doc_id", "text", threshold = 0.5)
    pairs.orderBy("id_a", "id_b")
  }

  /** PII-injected corpus shared by q155 (batch) and q156 (streaming):
    * every 9th doc gains an email + IPv4 + international phone, every
    * 17th (that is not a 9th) an email alone, every 13th (not 9th/
    * 17th) the parenthesized + dotted phone layouts plus TWO IP
    * probes — an invalid dotted quad (999.… — must survive
    * unredacted) and a valid one — all derived from doc_id, so the
    * DuckDB oracle rebuilds the injection with the same CASE.
    */
  private def piiInjectedDocs(base: DataFrame): DataFrame = {
    val id = col("doc_id")
    val ids = id.cast("string")
    base.select(col("doc_id"), col("lang"),
      when(id % 9 === 0, concat(col("text"),
          lit(" contact user"), ids, lit("@example.com at 10."),
          (id % 200).cast("string"), lit("."),
          (id % 250).cast("string"), lit("."),
          (id % 100).cast("string"), lit(" or call +1-555-"),
          lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((id % 10000).cast("string"), 4, "0")))
        .when(id % 17 === 0,
          concat(col("text"), lit(" mail "), ids, lit("@mail.example.org")))
        .when(id % 13 === 0, concat(col("text"),
          lit(" ring (555) 123-"),
          lpad((id % 10000).cast("string"), 4, "0"),
          lit(" or 555.123."),
          lpad((id % 10000).cast("string"), 4, "0"),
          lit(" not 999.999.999.999 but 192.168."),
          (id % 256).cast("string"), lit("."),
          (id % 250).cast("string")))
        .otherwise(col("text")).as("text"))
  }

  /** PII redaction ([[Redact.redactPii]]): emails → `<EMAIL>`, then
    * phones → `<PHONE>`, then IPv4 → `<IP>`, with per-pass counts —
    * the scrubbing stage every pretraining corpus runs before
    * tokenization. Pure codegen projection (regexp_replace /
    * regexp_count — no UDF, no shuffle); the regex dialect is
    * restricted to the Java∩RE2-agreeing subset so the oracle
    * replays it byte-for-byte (`Redact` scaladoc).
    */
  val q155PiiRedact: Q = (s, dir) => {
    Redact.redactPii(piiInjectedDocs(byDocId(docs(s, dir))), "text")
      .select("doc_id", "n_emails", "n_phones", "n_ips", "clean_text")
      .orderBy("doc_id")
  }

  /** STREAMING PII redaction ([[Redact.piiColumns]] over a
    * `readStream` relation): q155 as ingest-time scrubbing — a
    * stateless per-row projection, so no watermark, no state store,
    * no flush batch; documents are clean the moment they arrive. The
    * oracle is q155's SQL verbatim (stream ≡ batch bit-for-bit).
    */
  val q156StreamingPiiRedact: Q = (s, dir) => {
    val fixture = piiInjectedDocs(docs(s, dir)).select("doc_id", "text")
    streamGate("q156in", dir, fixture) { stream =>
      Redact.piiColumns("text").foldLeft(stream) {
        case (d, (name, c)) => d.withColumn(name, c)
      }.select("doc_id", "n_emails", "n_phones", "n_ips", "clean_text")
    }.orderBy("doc_id")
  }

  /** Markup normalization ([[HtmlClean.stripMarkup]]): tag strip →
    * entity decode (`&amp;` last, so double-escaped text surfaces as
    * its single-escaped form, not fully decoded) → whitespace
    * collapse, with a tag count. Every 5th doc is wrapped in
    * paragraph/anchor markup with entity escapes (incl. the
    * double-escaped `&amp;lt;` probe); the rest pass through the
    * same projection untouched-by-construction. Pure codegen
    * projection; oracle replays the replace chain in order.
    */
  val q157HtmlNormalize: Q = (s, dir) => {
    val id = col("doc_id")
    val wrapped = byDocId(docs(s, dir)).select(col("doc_id"),
      when(id % 5 === 0, concat(
          lit("<p class=\"body\">"), col("text"),
          lit("</p>\n<a href=\"https://site.example/d"), id.cast("string"),
          lit("\">more</a> &amp;lt;kept&amp;gt; &nbsp;&quot;q&quot; &#39;s&#39;")))
        .otherwise(col("text")).as("text"))
    HtmlClean.stripMarkup(wrapped, "text")
      .select("doc_id", "n_tags", "clean_text")
      .orderBy("doc_id")
  }

  /** Deterministic seeded corpus shuffle ([[CorpusShuffle
    * .shardManifest]]): the training-export "global random order"
    * with NO global sort and NO corpus window — the permutation is
    * carried by (shard = md5-48 key mod N, within-shard key order),
    * and the gate checks the per-shard manifest: counts, key range,
    * and the order-independent XOR membership fingerprint. Uniform
    * keys ⇒ shards concentrate at n/N; any misassigned doc flips a
    * fingerprint.
    */
  val q158CorpusShuffle: Q = (s, dir) =>
    CorpusShuffle.shardManifest(docs(s, dir), "doc_id",
      seed = "graft-r14", nShards = 32)

  /** Eval-set novelty probe ([[Dedup.evalNovelty]]) — q46's
    * contamination scan pointed at the BENCHMARK: per eval doc, the
    * fraction of its 8-token windows found anywhere in training (the
    * GPT-3/PaLM "dirty vs clean" eval report). The benchmark is two
    * planted flavors: verbatim corpus members (novelty 0) and
    * prefix-slices with two appended novel tokens (windows crossing
    * the suffix are unseen). Corpus shuffles nothing — broadcast
    * semi-join both ways (operator scaladoc).
    */
  val q159EvalNovelty: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val verbatim = d.filter(col("doc_id") % 37 === 0)
      .select((col("doc_id") + 500000).as("bench_id"), col("text"))
    val partial = d.filter(col("doc_id") % 41 === 0)
      .select((col("doc_id") + 600000).as("bench_id"),
        concat(concat_ws(" ", slice(Text.tokens(col("text")), 1, 15)),
          lit(" qzx"), col("doc_id").cast("string"), lit(" vbn")).as("text"))
    Dedup.evalNovelty(d, "text", verbatim.unionByName(partial),
        "bench_id", "text", windowTokens = 8)
      .orderBy("bench_id")
  }

  /** Domain-blocklist filter ([[Blocklist.matchHosts]], UT1/C4
    * suffix-match semantics): a listed domain bans its whole
    * subtree; the longest matching suffix wins attribution. Hosts
    * are synthesized at four subdomain depths — including a
    * mixed-case host and a trailing-dot FQDN form, both of which
    * must still match (DNS names are case-insensitive; `host.` is
    * the root-label spelling of `host`); the rule set mixes apex
    * domains, a deep subdomain, and a bare TLD-ish suffix.
    * Map-side broadcast match — the corpus never shuffles.
    */
  private val blocklistRules = Seq("dom3.com", "dom7.com", "dom5.co.uk",
    "tracker.net", "deep.sub.dom11.org", "dom13.net", "co.uk")

  private def blocklistHosts(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    docs(s, dir).select(col("doc_id"),
      when(id % 8 === 0, concat(lit("ads.dom"), (id % 20).cast("string"), lit(".com")))
        .when(id % 8 === 1, concat(lit("www.dom"), (id % 20).cast("string"), lit(".com")))
        .when(id % 8 === 2, concat(lit("dom"), (id % 20).cast("string"), lit(".co.uk")))
        .when(id % 8 === 3, concat(lit("deep.sub.dom"), (id % 20).cast("string"), lit(".org")))
        .when(id % 8 === 4, lit("Tracker.NET"))
        .when(id % 8 === 5, concat(lit("cdn"), (id % 5).cast("string"), lit(".tracker.net.")))
        .when(id % 8 === 6, concat(lit("safe"), (id % 9).cast("string"), lit(".example.org")))
        .otherwise(concat(lit("blog.dom"), (id % 20).cast("string"), lit(".net")))
        .as("host"))
  }

  val q160BlocklistFilter: Q = (s, dir) => {
    val rules = s.createDataFrame(blocklistRules.map(Tuple1.apply)).toDF("rule")
    Blocklist.matchHosts(blocklistHosts(s, dir), "doc_id", "host", rules)
      .select("doc_id", "host", "blocked", "rule")
      .orderBy("doc_id")
  }

  /** TF-IDF keyword extraction ([[Retrieval.tfidfKeywords]]): top-3
    * terms per doc by tf × ln(N/df) — the topic-tagging pass.
    * Vocabulary-sized aggregates (both map-side combinable), uniform
    * join/window keys, exact DECIMAL tf×idf₉ scores with token
    * tiebreak (operator scaladoc). The oracle replays tf, df, and
    * the decimal arithmetic.
    */
  val q161TfidfKeywords: Q = (s, dir) =>
    Retrieval.tfidfKeywords(docs(s, dir), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank")

  /** STREAMING quality cascade ([[QualityCascade.annotate]] over a
    * readStream relation): q82's first-failure attribution as
    * ingest-time filtering — the rule chain is one when-projection,
    * so the stream is stateless (no watermark/state/flush) and docs
    * carry their verdict the moment they arrive. Oracle is q82's SQL
    * verbatim (stream ≡ batch bit-for-bit).
    */
  val q162StreamingCascade: Q = (s, dir) => {
    val fixture = docs(s, dir).select("doc_id", "text")
    val txt = col("text")
    val rules = Seq(
      "min_tokens" -> (Text.tokenCount(txt) >= 20),
      "lang_en"    -> (Text.langId(txt) === "en"),
      "stopword"   -> (Text.stopwordRatio(txt) >= 0.04),
      "punct"      -> (Text.punctRatio(txt) <= 0.2))
    streamGate("q162in", dir, fixture)(
        QualityCascade.annotate(_, rules).select("doc_id", "verdict"))
      .orderBy("doc_id")
  }

  /** Embedding-spectrum diagnostics ([[Spectrum.topComponentReport]]):
    * per-dim mean + top-principal-component loading, λ₁, covariance
    * trace, explained-variance share — the anisotropy report behind
    * all-but-the-top (Mu 2018). One mergeable-aggregate corpus pass;
    * the d² matrix is model-sized and the 25 power iterations run on
    * the driver with decimal-exact dots + 9-dp rounds, so the oracle
    * replays EVERY iteration bit-for-bit (recursive CTE).
    */
  /** Process-level memo of the fitted spectrum model (q163 + q165
    * share it — the lmMemo/bpeMemo "trained model as a deployable
    * artifact" precedent): the two corpus passes + driver power
    * iteration run once per corpus dir.
    */
  private val spectrumMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Spectrum.SpectrumModel]()
  private def spectrumFor(s: SparkSession, dir: String): Spectrum.SpectrumModel =
    spectrumMemo.computeIfAbsent(dir, _ =>
      Spectrum.topComponentModel(
        Tables.embeddings(s, dir).select("embedding"), "embedding", dim = 64))

  val q163EmbeddingSpectrum: Q = (s, dir) =>
    Spectrum.reportFromModel(s, spectrumFor(s, dir), dim = 64)
      .orderBy("dim")

  /** The LARGE-d spectrum path under q163's own oracle: power
    * iteration with the covariance kept DISTRIBUTED
    * (`distributeCov = true` — each matvec is one mergeable d-sized
    * aggregate over the cached d²-row frame; the driver never holds a
    * d² object, the fix for the d = 4096 driver-collect caveat). The
    * two paths are bit-identical by construction (every rounding
    * point replicated — SpectrumPowerSpec locks it), so this query
    * sharing `embeddingSpectrumSql` is itself the cross-path
    * equivalence gate, run fresh (unmemoized) each time.
    */
  val q192SpectrumPower: Q = (s, dir) =>
    Spectrum.reportFromModel(s,
        Spectrum.topComponentModel(
          Tables.embeddings(s, dir).select("embedding"), "embedding",
          dim = 64, iters = 25, distributeCov = true),
        dim = 64)
      .orderBy("dim")

  /** Banned-phrase scan ([[PhraseFilter.tagBanned]] on the
    * [[graft.functions.AhoCorasick]] automaton): the C4-style
    * badwords filter — ONE Aho–Corasick pass per doc reports every
    * listed phrase that occurs, O(len + matches)/row no matter how
    * long the list (P `contains` probes would cost O(P·len) and fall
    * out of codegen CSE). The list mixes overlapping phrases
    * ("casino" ⊂ "casino bonus", "cheap pills" ∥ "pills now" sharing
    * "pills") and the substring-semantics probe ("ass" hits
    * "classification" — documented list contract); the oracle replays
    * the naive `contains` cross join.
    */
  private val bannedPhrases = Seq("cheap pills", "pills now", "casino",
    "casino bonus", "crypto", "ass")

  private def phraseInjectedDocs(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    docs(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(id % 7 === 0, lit(" Buy CHEAP pills now online"))
          .when(id % 11 === 0, lit(" best casino bonus codes"))
          .when(id % 13 === 0, lit(" free crypto CASINO classification"))
          .otherwise(lit(""))).as("text"))
  }

  val q164PhraseScan: Q = (s, dir) =>
    PhraseFilter.tagBanned(phraseInjectedDocs(s, dir), "text", bannedPhrases)
      .select("doc_id", "n_banned", "banned", "phrases")
      .orderBy("doc_id")

  /** Per-vector all-but-the-top decomposition ([[Spectrum
    * .removeTopReport]], Mu & Viswanath ICLR 2018): under q163's
    * spectrum model, each embedding's centered component along the
    * top eigenvector (proj), its centered squared norm, and
    * top_share = proj²/‖t‖² — WHO pays the anisotropy tax, vector by
    * vector. Map-side after the model passes: μ and v are 64-element
    * plan literals, both dots native decimal-exact kernels. Oracle
    * reuses q163's full power-iteration replay and adds the
    * projection arithmetic verbatim.
    */
  val q165RemoveTop: Q = (s, dir) =>
    Spectrum.removeTopReport(
        Tables.embeddings(s, dir).select("vec_id", "embedding"),
        "vec_id", "embedding", dim = 64, spectrumFor(s, dir))
      .orderBy("vec_id")

  /** Frequency-aware token subsampling ([[Subsample.subsampleCorpus]],
    * Mikolov NeurIPS 2013 §2.3): each occurrence of word w survives
    * iff md5-48(seed:doc:pos)/2^48 < sqrt(t·total/cnt_w) — the
    * word2vec down-sampling stage as token-budget reduction that
    * preserves rare-word mass. Fit = ONE vocab-sized aggregation →
    * plan-constant thresholds; apply = pure per-row kernel (no
    * explode/join/reassembly shuffle). The oracle replays the
    * frequency fit, every md5-48 draw, and the IEEE threshold.
    */
  val q166TokenSubsample: Q = (s, dir) =>
    Subsample.subsampleCorpus(docs(s, dir), "doc_id", "text",
        seed = "s166", t = 1e-3)
      .select("doc_id", "n_tokens", "n_kept", "sub_text")
      .orderBy("doc_id")

  /** CCNet head/middle/tail perplexity buckets (Wenzek et al., LREC
    * 2020 §4.3): per language, documents split into thirds by LM
    * perplexity — head (lowest ppl, cleanest), middle, tail — the
    * bucket label CCNet ships with every paragraph and downstream
    * pipelines sample against. Composition: q114's bigram-LM scoring
    * (80% train split, add-one smoothing, DECIMAL-exact log-sums) +
    * per-language EXACT interpolated tertiles (the q36 percentile
    * parity: quantile_cont ≡ Spark percentile; cut points written as
    * CAST(1 AS DOUBLE)/3 in BOTH engines so the interpolation rank
    * arithmetic is bit-identical) + a broadcast band join. Bands are
    * language-count-sized; scoring shuffles one row per doc.
    */
  val q167CcnetBuckets: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "lang", "text")
    val train = d.filter(col("doc_id") % 10 < 8)
    val (bg, vocab) = LanguageModel.trainBigram(train, "text")
    val scored = LanguageModel.perplexity(d, "doc_id", "text", bg, vocab)
      .join(d.select("doc_id", "lang"), "doc_id")
    val bands = scored.groupBy("lang").agg(
      round(expr("percentile(ppl, cast(1 as double)/3)"), 6).as("p33"),
      round(expr("percentile(ppl, cast(2 as double)/3)"), 6).as("p66"))
    scored.join(broadcast(bands), "lang")
      .select(col("doc_id"), col("lang"), col("ppl"), col("p33"), col("p66"),
        when(col("ppl") <= col("p33"), "head")
          .when(col("ppl") <= col("p66"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** STREAMING domain-blocklist filter ([[Blocklist
    * .matchHostsStateless]] over a readStream relation): q160's
    * suffix-match semantics as ingest-time provenance filtering —
    * the per-row form carries the rule set as plan literals and the
    * longest-suffix pick as an array fold, so the stream is
    * STATELESS (no aggregation, no state store, no flush batch).
    * Oracle is q160's SQL verbatim (stream ≡ batch bit-for-bit).
    */
  val q168StreamingBlocklist: Q = (s, dir) => {
    val fixture = blocklistHosts(s, dir)
    streamGate("q168in", dir, fixture)(
        Blocklist.matchHostsStateless(_, "host", blocklistRules)
          .select("doc_id", "host", "blocked", "rule"))
      .orderBy("doc_id")
  }

  /** b-bit minhash near-dup ([[NearDup.bbitPrefilteredPairs]], Li &
    * König WWW 2010): q16's planted corpus through the 64×-compressed
    * signature path — banding, then the 1-bit estimate (XOR +
    * popcount on two longs) screens candidates BEFORE the exact
    * shingle-set verify pays for them. The screen's derived 4σ margin
    * makes "verified output = brute-force pair set" hold up to a
    * < 4·10⁻⁵ per-pair tail (see the operator's scaladoc); on this
    * corpus every true pair clears the margin deterministically, so
    * the oracle is q16's all-pairs SQL verbatim.
    */
  val q169BbitMinhash: Q = (s, dir) => {
    NearDup.bbitPrefilteredPairs(mutantCorpus(s, dir), "doc_id", "text", threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  /** Host-scoped boilerplate removal ([[Boilerplate
    * .stripHostBoilerplate]]): every doc is wrapped in its host's nav
    * + footer template (universal within the host → stripped), every
    * 5th doc additionally carries a newsletter plug (~20% of the host
    * → kept: below the 50% doc-frequency bar), and the unique body
    * line always survives. The per-host frequency is what global line
    * dedup (q89) cannot express. Oracle replays the line explode, the
    * COUNT(DISTINCT doc)/host_docs ratio, and the ordered reassembly.
    */
  /** Host-template wrapper shared by q170 (batch) and q179
    * (incremental): nav + body (+ 1-in-5 newsletter) [+ the delta's
    * flash-sale line] + footer, host = id % 12.
    */
  private def hostWrappedDocs(base: DataFrame, saleLine: Boolean): DataFrame = {
    val id = col("doc_id")
    val host = concat(lit("h"), (id % 12).cast("string"))
    base.select(col("doc_id"), host.as("host"),
      concat(
        lit("NAV "), host, lit(" home products contact\n"),
        col("text"),
        when(id % 5 === 0,
          concat(lit("\nsubscribe to "), host, lit(" newsletter")))
          .otherwise(lit("")),
        if (saleLine) concat(lit("\nFLASH sale at "), host, lit(" today"))
        else lit(""),
        lit("\nCopyright "), host, lit(" all rights reserved")).as("text"))
  }

  val q170BoilerplateStrip: Q = (s, dir) =>
    Boilerplate.stripHostBoilerplate(
        hostWrappedDocs(docs(s, dir), saleLine = false),
        "doc_id", "host", "text", minDocFrac = 0.5)
      .select("doc_id", "host", "n_lines", "n_boiler", "clean_text")
      .orderBy("doc_id")

  /** Luhn-gated credit-card redaction ([[Redact.redactCreditCards]]):
    * regex candidates (contiguous 13–16 digits or 4-4-4-4 groups),
    * redacted ONLY when the ISO 7812 mod-10 checksum passes — the
    * decision depends on arithmetic over the match, which a
    * pure-regex pass cannot express. Fixture plants a valid PAN
    * beside a near-miss (last digit off), dashed and spaced valid
    * groups, and an 11-digit Luhn-valid number that must survive
    * (below the candidate length floor). Oracle replays the split/
    * extract scan, the per-candidate digit fold, and reassembly.
    */
  private def ccInjectedDocs(base: DataFrame): DataFrame = {
    val id = col("doc_id")
    base.select(col("doc_id"),
      concat(col("text"),
        when(id % 6 === 0,
          lit(" pay with 4539148803436467 or 1234567890123456"))
          .when(id % 10 === 0, lit(" card 4539-1488-0343-6467 billed"))
          .when(id % 15 === 0,
            lit(" ref 6011 0009 9013 9424 and order 79927398713"))
          .otherwise(lit(""))).as("text"))
  }

  val q171LuhnRedact: Q = (s, dir) =>
    Redact.redactCreditCards(ccInjectedDocs(byDocId(docs(s, dir))), "text")
      .select("doc_id", "n_cc", "n_rejected", "clean_text")
      .orderBy("doc_id")

  /** STREAMING Luhn scrub ([[Redact.redactCreditCards]] over a
    * readStream relation): q171's checksum-gated redaction at ingest
    * — the kernel is a pure projection, so the stream is stateless
    * (the q156 scrub-at-ingest shape). Oracle is q171's SQL verbatim.
    */
  val q184StreamingLuhn: Q = (s, dir) => {
    val fixture = ccInjectedDocs(docs(s, dir))
    streamGate("q184in", dir, fixture)(
        Redact.redactCreditCards(_, "text")
          .select("doc_id", "n_cc", "n_rejected", "clean_text"))
      .orderBy("doc_id")
  }

  /** STREAMING token subsampling ([[Subsample.applyModel]] over a
    * readStream relation): q166's apply phase at ingest — the fitted
    * threshold model rides the plan as a reference constant (the
    * q115 trained-model deployment shape), so the stream is a
    * stateless per-row projection: no shuffle, no state store, no
    * flush batch. Oracle is q166's SQL verbatim (stream ≡ batch
    * bit-for-bit — the md5-48 draws depend only on (seed, doc, pos)).
    */
  val q172StreamingSubsample: Q = (s, dir) => {
    val fixture = docs(s, dir).select("doc_id", "text")
    val model = Subsample.fitModel(fixture, "text", seed = "s166", t = 1e-3)
    streamGate("q172in", dir, fixture)(
        Subsample.applyModel(_, "doc_id", "text", model)
          .select("doc_id", "n_tokens", "n_kept", "sub_text"))
      .orderBy("doc_id")
  }

  /** Tokenizer fertility report: per language, subwords-per-word
    * (fertility) and chars-per-subword under the corpus-trained BPE
    * model — THE comparison metric for tokenizer quality across
    * languages (a high-fertility language pays more sequence length
    * per sentence; Rust et al. ACL 2021 use exactly this measure).
    * Composition: the q99/q102 trained merges (plan-constant memo)
    * applied to the distinct (lang, word) table, occurrence-weighted
    * rollup per language — segmentation cost ∝ distinct words, never
    * the token stream. Oracle replays training (12-round unroll) and
    * the weighted ratios.
    */
  val q173TokenizerFertility: Q = (s, dir) => {
    val merges = bpeMerges(s, dir).map(m => (m._2, m._3))
    val lw = docs(s, dir)
      .select(col("lang"), explode(Text.tokens(col("text"))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("freq"))
    lw.withColumn("_syms",
        graft.functions.BpeExpressions.bpeSegment(col("w"), merges))
      .groupBy("lang").agg(
        sum(col("freq")).as("n_words"),
        sum(col("freq") * size(col("_syms"))).as("n_subwords"),
        sum(col("freq") * length(col("w"))).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_subwords"), col("n_chars"),
        round(col("n_subwords").cast("double") /
          col("n_words").cast("double"), 6).as("fertility"),
        round(col("n_chars").cast("double") /
          col("n_subwords").cast("double"), 6).as("chars_per_token"))
      .orderBy("lang")
  }

  /** Good–Turing unseen-mass / OOV estimate per language
    * ([[CorpusStats.goodTuring]], Good 1953): p₀ = hapax/N — the
    * vocabulary-coverage report read before trusting a tokenizer or
    * LM for a language. Vocab-sized partial-agg rollup; oracle
    * replays counts and the IEEE ratio.
    */
  val q174GoodTuring: Q = (s, dir) =>
    CorpusStats.goodTuring(docs(s, dir), "lang", "text").orderBy("lang")

  /** STREAMING banned-phrase scan ([[PhraseFilter.tagBanned]] over a
    * readStream relation): q164's Aho–Corasick projection at ingest —
    * the automaton is a plan constant and the scan is stateless (no
    * watermark/state/flush), so list policy applies the moment a doc
    * arrives. Oracle is q164's SQL verbatim (stream ≡ batch).
    */
  val q175StreamingPhraseScan: Q = (s, dir) => {
    val fixture = phraseInjectedDocs(s, dir)
    streamGate("q175in", dir, fixture)(
        PhraseFilter.tagBanned(_, "text", bannedPhrases)
          .select("doc_id", "n_banned", "banned", "phrases"))
      .orderBy("doc_id")
  }

  /** Logistic-regression quality classifier ([[QualityLr]], the
    * Brown et al. 2020 Appendix-A stage): labels distill the q82
    * cascade verdict, features are the cascade's own cheap signals
    * (tokens/100, stopword ratio, punct ratio + intercept), training
    * is 8 rounds of full-batch GD at lr 0.5 with every step
    * decimal-exact-then-9-dp. Gated output = per-doc label, smooth
    * score under the final weights, and the ≥0.5 prediction — the
    * oracle replays feature extraction, all 8 gradient steps
    * (unrolled CTEs), and the scoring pass bit-for-bit.
    */
  /** The q176/q177/q183 shared LR pipeline: cascade-labeled feature
    * frame, 8-round GD training, per-doc (doc_id, label, score).
    */
  private def lrScoredDocs(s: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    val sr = Text.stopwordRatio(txt)
    val pr = Text.punctRatio(txt)
    val pass = (Text.tokenCount(txt) >= 20) && (Text.langId(txt) === "en") &&
      (sr >= 0.04) && (pr <= 0.2)
    val feats = docs(s, dir).select(col("doc_id"),
      when(pass, 1.0).otherwise(0.0).as("y"),
      array(lit(1.0), Text.tokenCount(txt).cast("double") / lit(100.0),
        sr, pr).as("x"))
    val w = QualityLr.train(feats, dims = 4, iters = 8, lr = 0.5)
    feats.select(col("doc_id"), col("y").cast("int").as("label"),
      round(QualityLr.p9(col("x"), w), 6).as("score"))
  }

  val q176QualityLr: Q = (s, dir) =>
    lrScoredDocs(s, dir)
      .withColumn("predicted", col("score") >= 0.5)
      .orderBy("doc_id")

  /** Calibration / reliability curve for the q176 classifier: decile
    * bins of predicted score vs the empirical pass rate — the check
    * every production quality filter runs before its scores drive
    * sampling (an over-confident scorer silently reweights the
    * corpus). Exact-decimal mean score per bin, IEEE pass rate; one
    * doc-count-sized rollup after the scoring projection.
    */
  val q183LrCalibration: Q = (s, dir) =>
    lrScoredDocs(s, dir)
      .withColumn("bin",
        least(floor(col("score") * 10).cast("int"), lit(9)))
      .groupBy("bin").agg(
        count(lit(1)).as("n"),
        round(graft.core.Exact.davg(col("score"), 6), 6).as("avg_score"),
        round(sum(col("label")).cast("double") /
          count(lit(1)).cast("double"), 6).as("pass_rate"))
      .orderBy("bin")

  /** STREAMING LR quality scoring ([[QualityLr.p9]] over a readStream
    * relation): q176's scoring pass at ingest — the trained weights
    * ride the plan as literals (the q115 model-deployment shape), so
    * scoring is stateless: no shuffle, no state store, no flush
    * batch. Training still happens batch-side (8 GD rounds need the
    * full corpus); what streams is the deployment. Oracle is q176's
    * SQL verbatim (stream ≡ batch bit-for-bit).
    */
  val q177StreamingLrScore: Q = (s, dir) => {
    val txt = col("text")
    val sr = Text.stopwordRatio(txt)
    val pr = Text.punctRatio(txt)
    val pass = (Text.tokenCount(txt) >= 20) && (Text.langId(txt) === "en") &&
      (sr >= 0.04) && (pr <= 0.2)
    def feats(d: DataFrame): DataFrame = d.select(col("doc_id"),
      when(pass, 1.0).otherwise(0.0).as("y"),
      array(lit(1.0), Text.tokenCount(txt).cast("double") / lit(100.0),
        sr, pr).as("x"))
    val w = QualityLr.train(feats(docs(s, dir)), dims = 4, iters = 8, lr = 0.5)
    streamGate("q177in", dir, docs(s, dir).select("doc_id", "text"))(
        feats(_)
          .select(col("doc_id"), col("y").cast("int").as("label"),
            round(QualityLr.p9(col("x"), w), 6).as("score"))
          .withColumn("predicted", col("score") >= 0.5))
      .orderBy("doc_id")
  }

  /** STREAMING drift monitor ([[Drift.klAgainstReference]]): hourly
    * event-type counts materialize at ingest (real watermark +
    * tumbling-window state, sentinel-flushed), then each window's
    * category mix scores KL against the corpus-wide reference
    * distribution — the continuous distribution-shift alarm on an
    * ingestion pipeline (q125's klDrift as a per-window monitor).
    * The reference is category-vocabulary-sized (broadcast); the
    * stream shuffles only (window, type) count rows. Oracle replays
    * windowing, Laplace smoothing over the reference vocabulary, and
    * the exact-integer-ratio ln arithmetic.
    */
  val q178StreamingDriftMonitor: Q = (s, dir) => {
    val e = events(s, dir).select("event_id", "ts", "event_type")
    val sentinel = s.range(1).select(
      lit(-1L).as("event_id"),
      lit("2030-01-01 00:00:00").cast("timestamp").as("ts"),
      lit("__sentinel").as("event_type"))
    val streamed = streamGate("q178in", dir, e.unionByName(sentinel),
        needsFlushBatch = true)(
        _.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("hour_start"), col("event_type"), col("n")))
      .filter(col("event_type") =!= "__sentinel")
    val ref = e.groupBy("event_type").agg(count(lit(1)).as("ref_cnt"))
    Drift.klAgainstReference(streamed, "hour_start", "event_type", "n",
        ref, "ref_cnt")
      .orderBy("hour_start")
  }

  /** INCREMENTAL boilerplate strip ([[Boilerplate.stripIncremental]],
    * the q85/q148 incremental family): the base corpus's (host, line)
    * df index + host doc counts are STORED once; a delta batch (same
    * hosts, id-shifted by 840000 = lcm-preserving %12 and %5, plus a
    * flash-sale template on every delta doc) strips under the merged
    * frequencies — base text never re-explodes, everything else is
    * delta-sized. The sale line lands at EXACTLY the 0.5 boundary
    * (equal base/delta host populations) → stripped; the 1-in-5
    * newsletter stays below it → kept. Oracle = from-scratch over
    * base ∪ delta restricted to delta ids (incremental ≡ scratch
    * under the gate).
    */
  val q179IncrementalBoilerplate: Q = (s, dir) => {
    val base = hostWrappedDocs(docs(s, dir), saleLine = false)
    val delta = hostWrappedDocs(
      docs(s, dir).withColumn("doc_id", col("doc_id") + 840000L),
      saleLine = true)
    val idx = memoFixture("q179idx", dir) { p =>
      Boilerplate.lineDfIndex(base, "doc_id", "host", "text")
        .write.mode("overwrite").parquet(s"$p/lines")
      Boilerplate.hostDocCounts(base, "doc_id", "host")
        .write.mode("overwrite").parquet(s"$p/hosts")
    }
    Boilerplate.stripIncremental(delta,
        s.read.parquet(s"$idx/lines"), s.read.parquet(s"$idx/hosts"),
        "doc_id", "host", "text", minDocFrac = 0.5)
      .select("doc_id", "host", "n_lines", "n_boiler", "clean_text")
      .orderBy("doc_id")
  }

  /** Negative-sampling table ([[NegativeSampling]], Mikolov NeurIPS
    * 2013 §2.2): 2000 deterministic draws from the corpus
    * unigram^(3/4) distribution via inverse-CDF over the
    * lex-ordered vocabulary — the noise table NCE/contrastive losses
    * consume. cnt^(3/4) is sqrt·sqrt∘sqrt (correctly-rounded IEEE,
    * unlike libm pow); uniforms are md5-48(seed:k); the oracle
    * replays weights, exact-decimal cumulative sums, every draw, and
    * the first-reaching-word pick as MIN(word) over cum ≥ t.
    */
  val q180NegativeSampling: Q = (s, dir) =>
    NegativeSampling.sampleTable(s,
        NegativeSampling.fitModel(docs(s, dir), "text", seed = "s180"),
        nDraws = 2000)
      .orderBy("draw")

  /** Skip-gram pair extraction ([[SkipGram.pairCounts]], Mikolov
    * 2013): (center, context) counts within a ±2 window — with q166
    * subsampling and q180 negative sampling, the full word2vec
    * training-data pipeline. Pure map-side fan-out (≤ 4 offset rows
    * per token, no position self-join); the only shuffle is the
    * partial-agg pair rollup. Top-100 by (cnt, center, context).
    */
  val q181SkipgramPairs: Q = (s, dir) =>
    SkipGram.pairCounts(docs(s, dir), "text", window = 2)
      .orderBy(col("cnt").desc, col("center"), col("context")).limit(100)

  /** Heaps'-law vocabulary-growth fit ([[CorpusStats.heapsFit]]):
    * V(n) = K·n^β via the FIRST-OCCURRENCE trick — no corpus-ordered
    * window; 10 id-range checkpoints against two partial-agg counts,
    * then the q139 exact-decimal OLS. β near 1 ⇒ the vocabulary is
    * still exploding and today's tokenizer/dedup settings will not
    * transfer to 10× the data.
    */
  val q182HeapsFit: Q = (s, dir) =>
    CorpusStats.heapsFit(docs(s, dir), "doc_id", "text", checkpoints = 10)

  /** Cross-source duplication matrix ([[KmvSetOps.groupedKmvSketch]]
    * + [[KmvSetOps.overlapMatrix]], Beyer SIGMOD 2007): per-source
    * bottom-64 shingle sketches → all source-pair union/Jaccard/
    * intersection estimates — "which sources are re-crawls of each
    * other?" at sketch cost (the corpus reduces to ≤k hashes per
    * source BEFORE any pair math; the pair grid is C(G,2)). A
    * synthetic 'mirror' source re-hosting every 4th doc plants the
    * high-overlap pair. Oracle replays hashing, both bottom-k ranks,
    * the pair merge, and the SIGMOD'07 estimators.
    */
  val q185SourceOverlap: Q = (s, dir) => {
    val d0 = docs(s, dir).select("doc_id", "source", "text")
    val corpus = d0.unionByName(
      d0.filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), lit("mirror").as("source"), col("text")))
    val shing = corpus.select(col("source"),
      explode(NearDup.shingles(col("text"), 3)).as("sh"))
    val sketches = KmvSetOps.groupedKmvSketch(shing, col("source"), col("sh"), 64)
    KmvSetOps.overlapMatrix(sketches, 64)
      .orderBy("grp_a", "grp_b")
  }

  /** Mixed-language document segmentation ([[LangSegment.segments]],
    * the CCNet per-paragraph language split): every doc is rebuilt as
    * four stopword-flavored lines — two English (merge into one
    * span), one German, then French or German by id%3 (extending the
    * German span or opening a French one) — and the operator must
    * recover exactly the contiguous same-language spans. Per-doc
    * windows only (bounded by doc length); oracle replays per-line
    * langId, the lag/sum island arithmetic, and span reassembly.
    */
  val q186LangSegments: Q = (s, dir) => {
    val id = col("doc_id")
    val ids = id.cast("string")
    val mixed = docs(s, dir).select(col("doc_id"),
      concat(
        lit("the and of is to item"), ids, lit("\n"),
        lit("the of and is to part"), ids, lit("\n"),
        lit("der und die ist das nummer"), ids, lit("\n"),
        when(id % 3 === 0, concat(lit("le la et est les objet"), ids))
          .otherwise(concat(lit("der und die das ist ding"), ids))).as("text"))
    LangSegment.segments(mixed, "doc_id", "text")
      .orderBy("doc_id", "span_idx")
  }

  /** Language-flavored sentences for the trained-classifier queries
    * (q187/q191): per-language function-word material whose CHARACTER
    * n-gram distribution actually separates the classes — what a real
    * lang-ID model keys on (CCNet §3 uses fastText char n-grams).
    */
  val LangNbFlavors: Seq[(String, String)] = Seq(
    "en" -> "the and of is to with that for not",
    "de" -> "der und die ist das nicht mit von auch",
    "fr" -> "le la et est les dans pour que une",
    "es" -> "el los y es las con para que una")

  /** Trained language-ID ([[LangIdNb]], the fastText/CCNet classifier
    * family): a labeled TRAIN corpus is constructed in-engine — each
    * doc gets the function-word sentence of lang = doc_id%4 plus 8
    * language-neutral noise tokens from its own text — the hashed
    * char-3-gram NB model is fitted (one model-sized shuffle + 32 KB
    * collect), and a DISJOINT test corpus (shifted lang assignment
    * (doc_id+1)%4, noise tokens 9..16) is scored map-side by the
    * plan-constant kernel. Output gates every per-doc argmax AND the
    * 6-dp score: the oracle replays training counts, priors, Laplace
    * log-likelihoods, exact-decimal sums, and the tie-broken argmax.
    */
  val q187LangidNb: Q = (s, dir) => {
    val langArr = array(LangNbFlavors.map(f => lit(f._1)): _*)
    val sentArr = array(LangNbFlavors.map(f => lit(f._2)): _*)
    val d = docs(s, dir).select(col("doc_id"), Text.tokens(col("text")).as("_t"))
    val trainIdx = (col("doc_id") % 4 + 1).cast("int")
    val testIdx = (pmod(col("doc_id") + 1, lit(4)) + 1).cast("int")
    val train = d.select(col("doc_id"),
      element_at(langArr, trainIdx).as("lang"),
      concat(element_at(sentArr, trainIdx), lit(" "),
        concat_ws(" ", slice(col("_t"), 1, 8))).as("text"))
    val test = d.select(col("doc_id"),
      element_at(langArr, testIdx).as("lang_true"),
      concat(element_at(sentArr, testIdx), lit(" "),
        concat_ws(" ", slice(col("_t"), 9, 8))).as("text"))
    val model = LangIdNb.fitModel(train, "text", "lang", buckets = 1024, n = 3)
    LangIdNb.scoreDocs(test, "doc_id", "text", model)
      .join(test.select(col("doc_id"), col("lang_true")), "doc_id")
      .select(col("doc_id"), col("lang_true"), col("lang_pred"), col("score"),
        (col("lang_true") === col("lang_pred")).as("hit"))
      .orderBy("doc_id")
  }

  /** q186's mixed-language segmentation driven by the TRAINED
    * classifier instead of the marker argmax — the "explicit model
    * parameter, both paths gated" contract: [[LangSegment.segments]]'
    * `scorer` plugs [[graft.functions.LangNbExpressions.langNbId]]
    * under the q187-style fitted model, so per-line language ID is a
    * trained map-side kernel and the span reassembly is unchanged.
    * Oracle replays the full NB per line (training counts shared with
    * the line scoring CTEs) plus the island arithmetic.
    */
  val q191LangSegmentsNb: Q = (s, dir) => {
    val langArr = array(LangNbFlavors.map(f => lit(f._1)): _*)
    val sentArr = array(LangNbFlavors.map(f => lit(f._2)): _*)
    val d = docs(s, dir).select(col("doc_id"), Text.tokens(col("text")).as("_t"))
    val trainIdx = (col("doc_id") % 4 + 1).cast("int")
    val train = d.select(col("doc_id"),
      element_at(langArr, trainIdx).as("lang"),
      concat(element_at(sentArr, trainIdx), lit(" "),
        concat_ws(" ", slice(col("_t"), 1, 8))).as("text"))
    val model = LangIdNb.fitModel(train, "text", "lang", buckets = 1024, n = 3)
    val id = col("doc_id")
    val ids = id.cast("string")
    val mixed = docs(s, dir).select(col("doc_id"),
      concat(
        lit("the and of is to item"), ids, lit("\n"),
        lit("the of and is to part"), ids, lit("\n"),
        lit("der und die ist das nummer"), ids, lit("\n"),
        when(id % 3 === 0, concat(lit("le la et est les objet"), ids))
          .otherwise(concat(lit("der und die das ist ding"), ids))).as("text"))
    LangSegment.segments(mixed, "doc_id", "text",
        scorer = graft.functions.LangNbExpressions.langNbId(_, model))
      .orderBy("doc_id", "span_idx")
  }

  /** Avro interchange roundtrip ([[graft.sources.Avro]], the
    * row-oriented INGEST format): the documents table is written as
    * Avro container files (one per partition + schema sidecar) and
    * read back through the PROJECTED reader schema — Avro's resolving
    * decoder skips the heavy `text`/`source` fields at decode time
    * (the row-format twin of column pruning; q140's ORC pattern) —
    * then filtered and digest-aggregated. The oracle aggregates the
    * ORIGINAL parquet directly, so any value the roundtrip loses or
    * mangles breaks the per-language md5-XOR content fingerprint.
    */
  val q188AvroRoundtrip: Q = (s, dir) => {
    val tmp = Scratch.fresh("q188")
    graft.sources.Avro.writeAvro(
      docs(s, dir).select("doc_id", "lang", "source", "n_chars", "text"), tmp)
    graft.sources.Avro.readAvro(s, tmp,
        projection = Seq("doc_id", "lang", "n_chars"))
      .filter(col("n_chars") >= 200)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        bit_xor(conv(substring(md5(
            concat_ws(":", col("doc_id"), col("n_chars"))), 1, 12), 16, 10)
          .cast("long")).as("content_fp"))
      .orderBy("lang")
  }

  /** IVF-PQ's payload half, CERTIFIED ([[Similarity.pqTopK]], Jégou
    * TPAMI 2011): per-subspace k-means codebooks trained in-engine
    * (4×16-dim, 16 codewords — the 64-float vector stores as 4 codes,
    * 128× smaller), the |Q|×|C| pass scans ONLY the codes table with
    * per-query ADC lookup tables, and the Cauchy–Schwarz residual
    * bound makes the surviving candidate set a SUPERSET of the true
    * top-k for ANY codebook — so after the decimal-exact re-score the
    * output EQUALS q17's exact brute force, and the oracle is q17's
    * SQL verbatim (the q61 prune-then-verify contract, third
    * compression family).
    */
  val q189PqAnn: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    // iters = 2: the certificate is codebook-independent (output is
    // exact top-k for ANY codebook) — extra Lloyd rounds only tighten
    // the screen, and 2 already prunes well on this corpus
    Similarity.pqTopK(emb.filter(col("vec_id") < 50), emb, "vec_id",
        "embedding", k = 5, m = 4, ks = 16, iters = 2, roundDp = -1)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "rank")
  }

  /** PQ pure-ADC recall report ([[Similarity.pqAdcRank]], the q132
    * discipline): the UNCERTIFIED ranking a probe-limited IVF-PQ
    * index actually serves — seeded codebooks (sub-vectors of
    * vec_id < 16, fully SQL-replayable), decimal-exact assignment and
    * lookup dots, rank on the 6-dp ADC cosine — scored for recall@5
    * against the exact gold (the shared q132 fixture). Gates BOTH the
    * approximation's mechanics (every code, estimate, and rank is
    * replayed by the oracle) and its honesty (recall is a reported
    * number, not an assumption).
    */
  val q190PqRecall: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 50)
    val exact = s.read.parquet(exactGold(emb, dir))
    val books = Similarity.pqCodebooksSeeded(
      emb.filter(col("vec_id") < 16), "vec_id", "embedding", dim = 64, m = 4)
    val approx = Similarity.pqAdcRank(q, emb, "vec_id", "embedding",
        k = 5, books)
      .select(col("query_id"), col("neighbor_id"))
    val matched = approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_matched"))
    val perQ = exact.groupBy("query_id").agg(count(lit(1)).as("_k"))
      .join(matched, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        round(coalesce(col("n_matched"), lit(0L)).cast("double") /
          col("_k").cast("double"), 6).as("recall"))
    val mean = perQ.agg(round(sum(col("n_matched")).cast("double") /
      (count(lit(1)) * lit(5L)).cast("double"), 6).as("mean_recall"))
    perQ.crossJoin(broadcast(mean)).orderBy("query_id")
  }

  /** Byte-fallback BPE corpus: every doc's tokens plus one planted
    * MULTIBYTE token (umlaut+ß, CJK, emoji by doc_id%3 — 2-, 3- and
    * 4-byte UTF-8 sequences), each token byte-remapped
    * ([[graft.functions.ByteBpeExpressions.byteRemap]]) so the
    * trainer's "characters" are the GPT-2 256-byte alphabet. Tokens
    * are remapped INDIVIDUALLY and re-joined (byte-level BPE
    * pre-tokenizes before remapping — a remapped space would
    * otherwise swallow the word boundary).
    */
  private def byteBpeExtra: Column =
    when(col("doc_id") % 3 === 0, "süß")
      .when(col("doc_id") % 3 === 1, "日本語a")
      .otherwise("🚀end")

  private def byteBpeCorpus(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ByteBpeExpressions.byteRemap
    docs(s, dir).select(col("doc_id"),
      concat_ws(" ",
        concat_ws(" ", transform(Text.tokens(col("text")),
          t => byteRemap(t))),
        byteRemap(byteBpeExtra)).as("text"))
  }

  /** Byte-level BPE TRAINING (GPT-2's byte-fallback alphabet in front
    * of [[BpeTrainer]] — Radford et al. 2019; Sennrich ACL 2016):
    * after the per-token byte remap the standard trainer is already
    * byte-level — its initial symbols ARE the 256-char byte alphabet,
    * so unseen characters can never produce UNK. The planted
    * multibyte tokens make the learned table contain genuine
    * byte-pair merges (UTF-8 continuation-byte pairs), and the oracle
    * replays the remap (hex-decoded bytes joined to the 256-row
    * alphabet table) plus all 12 merge rounds.
    */
  val q193ByteBpeTrain: Q = (s, dir) =>
    BpeTrainer.train(byteBpeCorpus(s, dir), "text", numMerges = 12)
      .orderBy("rank")

  private val byteBpeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()
  private def byteBpeMergeList(s: SparkSession, dir: String): Seq[(String, String)] =
    byteBpeMemo.computeIfAbsent(dir, _ =>
      BpeTrainer.train(byteBpeCorpus(s, dir), "text", numMerges = 12)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)

  /** Byte-level BPE SEGMENTATION + the LOSSLESS-ROUNDTRIP gate: every
    * distinct corpus word (original bytes, multibyte plants included)
    * segments under the q193 model — remap, [[graft.functions
    * .BpeExpressions.bpeSegment]], then the pieces re-concatenate and
    * INVERSE-remap back to exactly the original word (`roundtrip_ok`,
    * true for arbitrary UTF-8 by the bijection — also
    * property-tested on random non-BMP text in ByteBpeSpec). Oracle:
    * the unroll's final word table IS greedy segmentation under the
    * learned merges (the q102 equivalence), so pieces, counts, and
    * the roundtrip bit all replay.
    */
  val q194ByteBpeSegment: Q = (s, dir) => {
    import graft.functions.ByteBpeExpressions.{byteRemap, byteUnremap}
    val merges = byteBpeMergeList(s, dir)
    val words = docs(s, dir)
      .select(explode(array_union(Text.tokens(col("text")),
        array(byteBpeExtra))).as("w"))
      .distinct()
    words
      .select(col("w"),
        graft.functions.BpeExpressions.bpeSegment(
          byteRemap(col("w")), merges).as("_p"))
      .select(col("w"),
        array_join(col("_p"), " ").as("segmented"),
        size(col("_p")).cast("long").as("n_pieces"),
        (byteUnremap(array_join(col("_p"), "")) === col("w")).as("roundtrip_ok"))
      .orderBy("w")
  }

  /** STREAMING language-ID under the TRAINED model (q187's twin, the
    * q177/q115 "model as a plan constant at ingest" family): the NB
    * kernel is a stateless per-row projection, so scoring a live
    * stream needs no shuffle, no state store, no model distribution
    * beyond the plan — stream ≡ batch bit-for-bit and the oracle is
    * q187's SQL verbatim.
    */
  val q195StreamingLangid: Q = (s, dir) => {
    import graft.functions.LangNbExpressions
    val langArr = array(LangNbFlavors.map(f => lit(f._1)): _*)
    val sentArr = array(LangNbFlavors.map(f => lit(f._2)): _*)
    val d = docs(s, dir).select(col("doc_id"), Text.tokens(col("text")).as("_t"))
    val trainIdx = (col("doc_id") % 4 + 1).cast("int")
    val testIdx = (pmod(col("doc_id") + 1, lit(4)) + 1).cast("int")
    val train = d.select(col("doc_id"),
      element_at(langArr, trainIdx).as("lang"),
      concat(element_at(sentArr, trainIdx), lit(" "),
        concat_ws(" ", slice(col("_t"), 1, 8))).as("text"))
    val model = LangIdNb.fitModel(train, "text", "lang", buckets = 1024, n = 3)
    val fixture = d.select(col("doc_id"),
      element_at(langArr, testIdx).as("lang_true"),
      concat(element_at(sentArr, testIdx), lit(" "),
        concat_ws(" ", slice(col("_t"), 9, 8))).as("text"))
    streamGate("q195in", dir, fixture)(
        _.select(col("doc_id"), col("lang_true"),
          LangNbExpressions.langNbScore(col("text"), model).as("_s"))
        .select(col("doc_id"), col("lang_true"),
          col("_s.lang").as("lang_pred"), col("_s.score").as("score"),
          (col("lang_true") === col("_s.lang")).as("hit")))
      .orderBy("doc_id")
  }

  /** The COMPOSED IVF-PQ recall report, RESIDUAL-encoded (IVFADC
    * proper, Jégou TPAMI 2011 §IV.A — [[Similarity.pqIvfAdcRank]]):
    * seeded coarse cells (q132's IVF machinery, vec_id < 16) prune
    * candidates to nProbe = 4 cells per query; each corpus vector is
    * PQ-encoded as its RESIDUAL to its cell centroid against residual
    * codebooks seeded from a DISJOINT book-seed set (vec_id 16..31);
    * the ADC estimate carries the coarse term exactly (q·c_cell, the
    * probe's own dotExact) plus the residual LUT sum; and recall@5 vs
    * exact gold quantifies what the two-level approximation costs —
    * coarse assignment, residuals, codes, estimates, and ranks ALL
    * replayed in SQL.
    */
  val q196PqIvfRecall: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 50)
    val exact = s.read.parquet(exactGold(emb, dir))
    val approx = Similarity.pqIvfAdcRank(q, emb,
        emb.filter(col("vec_id") < 16), "vec_id", "embedding",
        k = 5, nProbe = 4, m = 4, dim = 64,
        bookSeeds = emb.filter(col("vec_id") >= 16 && col("vec_id") < 32))
      .select(col("query_id"), col("neighbor_id"))
    pqRecallReport(exact, approx)
  }

  /** Shared q196/q201 recall-report tail: per-query matched count +
    * recall, plus the broadcast mean.
    */
  private def pqRecallReport(exact: DataFrame, approx: DataFrame): DataFrame = {
    val matched = approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_matched"))
    val perQ = exact.groupBy("query_id").agg(count(lit(1)).as("_k"))
      .join(matched, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        round(coalesce(col("n_matched"), lit(0L)).cast("double") /
          col("_k").cast("double"), 6).as("recall"))
    val mean = perQ.agg(round(sum(col("n_matched")).cast("double") /
      (count(lit(1)) * lit(5L)).cast("double"), 6).as("mean_recall"))
    perQ.crossJoin(broadcast(mean)).orderBy("query_id")
  }

  /** Avro SCHEMA EVOLUTION ([[graft.sources.Avro.readAvroAs]], the
    * row-format twin of q108's parquet evolution): old container
    * files read under the NEW pipeline schema — two added fields fill
    * from Avro's default-value resolution per record, field order
    * changes, and the aggregate proves every original value and every
    * default landed (the oracle aggregates the original parquet with
    * the defaults as literals).
    */
  val q197AvroEvolution: Q = (s, dir) => {
    val tmp = Scratch.fresh("q197")
    graft.sources.Avro.writeAvro(
      docs(s, dir).select("doc_id", "lang", "n_chars"), tmp)
    val evolved = StructType(Seq(
      StructField("weight", LongType, nullable = false),
      StructField("lang", StringType, nullable = true),
      StructField("quality_tier", StringType, nullable = true),
      StructField("n_chars", LongType, nullable = true)))
    graft.sources.Avro.readAvroAs(s, tmp, evolved,
        Map("quality_tier" -> "unscored", "weight" -> 1L))
      .groupBy("lang", "quality_tier")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("weight")).as("total_weight"),
        sum(col("n_chars")).as("chars"))
      .orderBy("lang")
  }

  /** Gopher repetition filters ([[Repetition.report]], Rae et al.
    * 2021 Table A1): every doc is rebuilt as four lines — a nav line
    * repeated on doc_id%4 (duplicate-line signals), a spam tail of
    * "buy now" × 6 on doc_id%5 (top-2-gram + duplicated-5-gram
    * coverage), unique footer/tail lines elsewhere — and all four
    * fractions plus the pass verdict gate against a full SQL replay
    * (line counts, gram windows, the interval-union char coverage).
    */
  private[graft] def repetitionCorpus(base: DataFrame): DataFrame = {
    val id = col("doc_id")
    val ids = id.cast("string")
    base.select(col("doc_id"), concat(
      lit("nav home about contact"), lit("\n"),
      col("text"), lit("\n"),
      when(id % 4 === 0, lit("nav home about contact"))
        .otherwise(concat(lit("footer f"), ids)), lit("\n"),
      when(id % 5 === 0, lit("buy now buy now buy now buy now buy now buy now"))
        .otherwise(concat(lit("tail t"), ids))).as("text"))
  }

  val q198GopherRepetition: Q = (s, dir) =>
    Repetition.report(repetitionCorpus(byDocId(docs(s, dir))), "doc_id", "text")
      .orderBy("doc_id")

  /** STREAMING Gopher repetition filter ([[Repetition.reportRowwise]]
    * — every metric is a function of one document, so the filter runs
    * at ingest as a stateless zero-exchange projection; bit-identical
    * to the batch shuffle form (RepetitionSpec), oracle = q198's SQL
    * verbatim).
    */
  val q199StreamingRepetition: Q = (s, dir) => {
    val mixed = repetitionCorpus(docs(s, dir))
    streamGate("q199in", dir, mixed)(Repetition.reportRowwise(_, "doc_id", "text"))
      .orderBy("doc_id")
  }

  /** q200's stored flat-PQ index (trained books, m = 4, ks = 16),
    * written once per corpus dir. `emb` is by-name: it is read only
    * when the index is first written.
    */
  private def pqIndex(emb: => DataFrame, dir: String): String =
    memoFixture("q200idx", dir) { p =>
      val e = emb
      val books = Similarity.pqCodebooksExact(e, "vec_id", "embedding",
        dim = 64, m = 4, ks = 16, iters = 2)
      Similarity.writePqIndex(e, "vec_id", "embedding", books, p)
    }

  /** PQ against a STORED index ([[Similarity.pqTopKFromIndex]], the
    * q104 index-once/query-forever discipline applied to PQ): the
    * codes table + codebooks are persisted once per corpus dir
    * (128× smaller than the vectors), the certified ADC screen scans
    * the stored codes, and only survivor re-scoring touches the
    * original vectors — output still ≡ exact brute force, so the
    * oracle is q17's SQL verbatim (index storage must be lossless
    * for the hash to match).
    */
  val q200PqStoredIndex: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val idx = pqIndex(emb, dir)
    Similarity.pqTopKFromIndex(emb.filter(col("vec_id") < 50), emb,
        "vec_id", "embedding", k = 5, idx, roundDp = -1)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "rank")
  }

  /** q201's stored cell-partitioned IVF-PQ index (seeded cells
    * vec_id < 16, residual books from vec_id 16..31), written once per
    * corpus dir.
    */
  private def ivfPqIndex(emb: DataFrame, dir: String): String =
    memoFixture("q201idx", dir) { p =>
      Similarity.writeIvfPqIndex(emb, emb.filter(col("vec_id") < 16),
        "vec_id", "embedding", m = 4, dim = 64, p,
        bookSeeds = emb.filter(col("vec_id") >= 16 && col("vec_id") < 32))
      graft.core.OpCache.release()
    }

  /** IVF-PQ served from the STORED, CELL-PARTITIONED index
    * ([[Similarity.writeIvfPqIndex]]/[[Similarity.pqIvfTopKFromIndex]]
    * — the q104/q200 index-once discipline applied to IVFADC): codes
    * written `partitionBy(cell)`, codebooks + coarse seeds + meta as
    * sidecars, and serving reads ONLY the probed cells' partition
    * directories (the probed-cell union lands as an IN on the
    * partition column — PlanShapeSpec locks the PartitionFilters).
    * Output ≡ q196's in-query recall report, so the oracle is q196's
    * SQL verbatim — index storage must be lossless and serving-time
    * probe selection bit-identical for the hash to match.
    */
  val q201IvfPqStoredIndex: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 50)
    val exact = s.read.parquet(exactGold(emb, dir))
    val idx = ivfPqIndex(emb, dir)
    val approx = Similarity.pqIvfTopKFromIndex(q, idx, "vec_id", "embedding",
        k = 5, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"))
    pqRecallReport(exact, approx)
  }

  /** STREAMING ANN serving ([[Similarity.pqTopKFromIndex]] against
    * q200's stored PQ index): a QUERY stream arrives in micro-batches
    * and each trigger runs the full certified ADC screen + exact
    * re-score against the static stored codes table (stream-static:
    * the index is encode-once, the per-trigger work reads the slim
    * codes + survivor vectors only). Per-query results are
    * independent of batching, so the streamed union ≡ the batch
    * stored-index query bit-for-bit and the oracle is q17's exact
    * brute-force SQL verbatim (the q149/q156 discipline). The rank
    * window runs INSIDE foreachBatch on the bounded micro-batch —
    * no unbounded streaming state.
    */
  val q202StreamingAnnServe: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val idx = pqIndex(emb, dir)
    streamServe("q202in", dir, emb.filter(col("vec_id") < 50)) { batch =>
      Some(Similarity.pqTopKFromIndex(batch, emb, "vec_id", "embedding",
          k = 5, idx, roundDp = -1)
        .withColumn("rank", col("rank").cast("long")))
    }.orderBy("query_id", "rank")
  }

  /** Planted single-rule fixtures for the Gopher FORMAT-quality filter
    * (q203/q204): branch `doc_id % 9` violates exactly ONE Table A1
    * rule (0 = clean pass) — word-count, mean-word-length, hash
    * ratio, ellipsis ratio, bullet lines, ellipsis lines, alpha
    * fraction, stop words, in rule order. Each branch is the text
    * SEGMENTS around doc-id insertions (engine: concat with the id
    * column; oracle: `|| CAST(doc_id AS VARCHAR) ||`), shared by both
    * sides so the fixture itself is replayed, not just the metrics.
    */
  val GopherQualityBranches: Seq[Seq[String]] = {
    def rep(s: String, n: Int) = Seq.fill(n)(s).mkString(" ")
    val fill =
      "the data of training and that model have with pipeline quality works"
    Seq(
      // 0: clean — 62 filler words, every rule passes
      Seq(rep(fill, 5) + " doc", " end"),
      // 1: word count < 50 (stop words present so only rule 1 trips)
      Seq("the short doc", " has that"),
      // 2: mean word length > 10
      Seq("the have doc",
        " " + rep("extraordinarily sophisticated implementations", 19)),
      // 3: hash symbol-to-word ratio > 0.1 (8 '#' / 68 words)
      Seq(rep(fill, 5) + " #tag", " # # # # # # #"),
      // 4: ellipsis-to-word ratio > 0.1 (8 '...' / 69 words; the line
      //    does NOT end in an ellipsis so rule 6 stays clean)
      Seq(rep(fill, 5) +
        " well... maybe... yes... truly... sure... indeed... fine..." +
        " later... end", ""),
      // 5: 10/10 bullet lines (alpha frac 50/60 stays ≥ 0.8)
      Seq("• the item") ++ Seq.fill(9)(" with alpha beta\n• the item") ++
        Seq(" with alpha beta"),
      // 6: 4/10 lines end with an ellipsis (4 '...' / 86 words ≤ 0.1).
      //    Line i = "the data of training and that item<id>" + suffix,
      //    suffix = " see..." for i < 4, " goes on" for i >= 4
      {
        val p = "the data of training and that item"
        Seq(p) ++ (0 until 9).map(i =>
          (if (i < 4) " see...\n" else " goes on\n") + p) ++ Seq(" goes on")
      },
      // 7: alpha-word fraction 60/80 = 0.75 < 0.8
      Seq(rep(fill, 5) + " 1234") ++ Seq.fill(19)(" 1234") ++ Seq(""),
      // 8: zero Gopher stop words
      Seq("data model pipeline training quality corpus tokens doc") ++
        Seq.fill(5)(
          " metrics eval data model pipeline training quality corpus tokens doc") ++
        Seq(" metrics eval"))
  }

  private def gopherQualityCorpus(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val ids = id.cast("string")
    def branchText(segs: Seq[String]): Column =
      concat(segs.zipWithIndex.flatMap { case (seg, i) =>
        (if (i == 0) Seq.empty[Column] else Seq(ids)) :+ lit(seg)
      }: _*)
    val branches = GopherQualityBranches.map(branchText)
    docs(s, dir).select(id,
      branches.zipWithIndex.tail.foldLeft(
        when(id % 9 === 0, branches(0))) {
        case (acc, (b, i)) => acc.when(id % 9 === i, b)
      }.as("text"))
  }

  /** Long-document guard on the Gopher repetition filters
    * ([[Repetition.reportCapped]]): the q198 corpus with PLANTED
    * pathological docs — every 7th doc's tail line grows a 120-token
    * spam run (trips the token cap), every 11th doc gains two extra
    * lines (trips the line cap) — run through the capped row-wise
    * form at maxTokens = 64, maxLines = 4. The oracle replays the
    * capped-prefix semantics exactly: lines sliced first, tokens of
    * the line-capped text sliced second, metrics + the `truncated`
    * flag over those prefixes.
    */
  val q205CappedRepetition: Q = (s, dir) => {
    val id = col("doc_id")
    val spam = " " + ("spam token " * 60).trim
    val corpus = repetitionCorpus(byDocId(docs(s, dir))).select(id, concat(col("text"),
      when(id % 7 === 0, lit(spam)).otherwise(lit("")),
      when(id % 11 === 0, lit("\nextra alpha line\nextra beta line"))
        .otherwise(lit(""))).as("text"))
    Repetition.reportCapped(corpus, "doc_id", "text",
      maxTokens = 64, maxLines = 4).orderBy("doc_id")
  }

  /** Gopher Table A1 FORMAT-quality filter ([[GopherQuality.report]],
    * Rae et al. 2021): the eight format rules (word count, mean word
    * length, hash/ellipsis symbol ratios, bullet/ellipsis line
    * fractions, alpha-word fraction, stop-word presence) over planted
    * single-rule pass/fail fixtures, every count, 6-dp ratio, and the
    * conjunction verdict replayed in SQL.
    */
  val q203GopherQuality: Q = (s, dir) =>
    GopherQuality.report(gopherQualityCorpus(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** STREAMING Gopher format filter — [[GopherQuality.report]] is a
    * pure per-row projection, so it runs at ingest as a stateless
    * zero-exchange stream transform; bit-identical to batch, oracle =
    * q203's SQL verbatim (the q199 discipline).
    */
  val q204StreamingGopherQuality: Q = (s, dir) => {
    val mixed = gopherQualityCorpus(s, dir)
    streamGate("q204in", dir, mixed)(GopherQuality.report(_, "doc_id", "text"))
      .orderBy("doc_id")
  }

  /** Process-level memo of the trained coarse quantizer (the
    * spectrumMemo / lmMemo "trained model as a deployable artifact"
    * precedent): q206 pays the k-means fit once per (process, corpus
    * dir). q44 — the trainer's own gate — deliberately does NOT use
    * the memo, so its bench number keeps measuring the training cost.
    */
  private val kmeansMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
  private def kmeansFor(s: SparkSession, dir: String): Array[Array[Double]] =
    kmeansMemo.computeIfAbsent(dir, _ =>
      Similarity.kmeansCentroidsExact(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 8, iters = 2))

  /** TRAINED-coarse IVFADC (q196 with the seeded coarse quantizer
    * replaced by K-MEANS-TRAINED centroids — Jégou TPAMI 2011 §IV
    * trains the coarse quantizer; seeded cells are badly unbalanced
    * on real data, hurting recall at fixed nProbe and skewing serve-
    * time partition sizes): coarse cells = [[Similarity
    * .kmeansCentroidsExact]] (k = 8, 2 Lloyd's iterations — the
    * q44-gated trainer) QUANTIZED TO FLOAT32 for the serving layout
    * (IEEE round-to-nearest is deterministic cross-engine, so the
    * cast itself replays bit-for-bit), residual codebooks from the
    * disjoint vec_id 16..31 book-seed set against the TRAINED cells,
    * nProbe = 2 of 8 cells, recall@5 vs exact gold. The oracle
    * composes the q44 k-means unroll with the q196 residual replay —
    * training, float cast, assignment, probes, residuals, codes,
    * estimates, ranks, and recall in ONE SQL statement. PqSpec adds
    * the property: trained-coarse recall ≥ seeded-cells recall at
    * equal nProbe on clustered data with a bad seed init.
    */
  val q206TrainedIvfPq: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 50)
    val exact = s.read.parquet(exactGold(emb, dir))
    val approx = Similarity.pqIvfAdcRank(q, emb, trainedSeeds(s, dir), "vec_id",
        "embedding", k = 5, nProbe = 2, m = 4, dim = 64,
        bookSeeds = emb.filter(col("vec_id") >= 16 && col("vec_id") < 32))
      .select(col("query_id"), col("neighbor_id"))
    pqRecallReport(exact, approx)
  }

  /** q207's appended IVF-PQ index: q201's layout built over a corpus
    * whose vec_id % 3 == 0 rows are stale (negated), then one append
    * re-ingesting the true rows; written once per corpus dir.
    */
  private def appendedIvfPqIndex(emb: DataFrame, dir: String): String =
    memoFixture("q207idx", dir) { p =>
      val stale = emb.withColumn("embedding",
        when(col("vec_id") % 3 === 0, transform(col("embedding"), x => -x))
          .otherwise(col("embedding")))
      Similarity.writeIvfPqIndex(stale, emb.filter(col("vec_id") < 16),
        "vec_id", "embedding", m = 4, dim = 64, p,
        bookSeeds = emb.filter(col("vec_id") >= 16 && col("vec_id") < 32))
      Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") % 3 === 0),
        p, "vec_id", "embedding")
      graft.core.OpCache.release()
    }

  /** INCREMENTAL APPEND to the stored IVF-PQ index
    * ([[Similarity.appendToIvfPqIndex]] — the q85/q148/q179
    * incremental discipline applied to the ANN tier): the base index
    * is built from a corpus whose re-ingested rows (vec_id % 3 == 0)
    * carry STALE (negated) vectors; ONE append re-ingests the true
    * rows, encoding them against the FROZEN books/cells sidecars and
    * tombstoning the stale codes — which live in DIFFERENT cells
    * (negation flips the cosine assignment), the case a
    * within-partition dedup cannot fix. The served state is exactly
    * the full true corpus, so the oracle is q201's SQL VERBATIM:
    * append ≡ full rebuild under the hash gate (PqSpec locks the
    * same equivalence plus multi-generation supersede at unit scale).
    */
  val q207IvfPqAppend: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 50)
    val exact = s.read.parquet(exactGold(emb, dir))
    val idx = appendedIvfPqIndex(emb, dir)
    val approx = Similarity.pqIvfTopKFromIndex(q, idx, "vec_id",
        "embedding", k = 5, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"))
    pqRecallReport(exact, approx)
  }

  /** STREAMING ANN serving against the CELL-PARTITIONED index (the
    * q202 pattern upgraded from the flat q200 index to q201's IVFADC
    * index — the 100 TB serving shape): per micro-batch, probe
    * selection against the cells sidecar + a PARTITION-PRUNED codes
    * read ([[Similarity.pqIvfTopKFromIndex]] inside foreachBatch;
    * PlanShapeSpec asserts the micro-batch plan prunes to the probed
    * directories). Per-query results are independent of batching, so
    * the streamed union ≡ the batch serve bit-for-bit; the oracle
    * replays the full IVFADC RANKING (est + rank per candidate, not
    * just the recall aggregate). Idempotent per-batchId output
    * directories (the q202 discipline).
    */
  val q208StreamingIvfPqServe: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val idx = ivfPqIndex(emb, dir)
    streamServe("q202in", dir, emb.filter(col("vec_id") < 50)) { batch =>
      Some(Similarity.pqIvfTopKFromIndex(batch, idx, "vec_id", "embedding",
          k = 5, nProbe = 4)
        .withColumn("rank", col("rank").cast("long")))
    }.orderBy("query_id", "rank")
  }

  /** The trained coarse quantizer as a model-sized float32 seeds
    * frame (shared by q206/q212).
    */
  private def trainedSeeds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kmeansFor(s, dir).zipWithIndex.map { case (c, i) =>
      (i.toLong, c.map(_.toFloat).toSeq) }.toSeq
      .toDF("vec_id", "embedding")
  }

  /** The STORED trained-coarse IVF-PQ index (q206's retriever through
    * q201's serving path — the full production composition: k-means
    * coarse centroids, residual books, cell-partitioned codes,
    * partition-pruned serving): [[Similarity.writeIvfPqIndex]] with
    * the TRAINED seeds frame, served by [[Similarity
    * .pqIvfTopKFromIndex]]. Trained cells also BALANCE the partition
    * directories (seeded cells skew serve-time partition sizes on
    * real data — the r17 verdict's point). Output ≡ q206's in-query
    * recall report, so the oracle is q206's SQL verbatim — storage
    * losslessness and serving-time probe parity under the trained
    * model are both inside the hash gate.
    */
  val q212TrainedIvfPqStored: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 50)
    val exact = s.read.parquet(exactGold(emb, dir))
    val idx = memoFixture("q212idx", dir) { p =>
      Similarity.writeIvfPqIndex(emb, trainedSeeds(s, dir),
        "vec_id", "embedding", m = 4, dim = 64, p,
        bookSeeds = emb.filter(col("vec_id") >= 16 && col("vec_id") < 32))
      graft.core.OpCache.release()
    }
    val approx = Similarity.pqIvfTopKFromIndex(q, idx, "vec_id",
        "embedding", k = 5, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"))
    pqRecallReport(exact, approx)
  }

  /** Planted HTML-page fixtures for main-content extraction
    * (q209/q210/q211) — branch `doc_id % 6` exercises one decision
    * each: 0 = nav/content/footer page (keep exactly the content
    * paragraph), 1 = short block PROMOTED between two good
    * paragraphs, 2 = short block isolated between link blocks →
    * demoted, 3 = near-good promoted by a good neighbor (plus a
    * low-stop bad tail), 4 = near-good isolated between bads →
    * demoted, 5 = link farm (link density kills ≥-8-word blocks).
    * Segments around doc-id insertions, shared with the oracle (the
    * GopherQualityBranches device). Stop fractions are engineered:
    * the good filler is 6/10 stop words, near 2/10, low 0/10.
    */
  val MainContentBranches: Seq[Seq[String]] = {
    val good = "the data of training and that model have with pipeline"
    val near = "the data of pipeline training quality corpus tokens metrics eval"
    val low = "data model pipeline training quality corpus tokens metrics eval systems"
    Seq(
      // 0: nav(links) + content + footer(links)
      Seq("""<div><a href="#">home</a> <a href="#">about""",
        s"""</a></div><p>$good item""",
        """</p><div><a href="#">terms</a> <a href="#">privacy</a></div>"""),
      // 1: good + short(promoted) + good
      Seq(s"""<p>$good item""", "</p><p>see item",
        s""" now</p><p>$good also""", "</p>"),
      // 2: links + short(isolated → demoted) + links
      Seq("""<div><a href="#">home""",
        """</a> <a href="#">about</a></div><p>see item""",
        """ now</p><div><a href="#">terms</a> <a href="#">privacy""",
        "</a></div>"),
      // 3: near_good(promoted by next) + good + low-stop bad
      Seq(s"""<p>$near item""", s"""</p><p>$good item""",
        s"""</p><p>$low item""", "</p>"),
      // 4: bad + near_good(isolated → demoted) + bad
      Seq(s"""<p>$low item""", s"""</p><p>$near item""",
        s"""</p><p>$low also""", "</p>"),
      // 5: link farm — ≥ 8 words but pure anchor text
      Seq("""<ul><li><a href="#">one """,
        """ two three four five six seven eight nine</a></li><li><a href="#">buy now """,
        "</a></li></ul>"))
  }

  private[graft] def mainContentCorpus(base: DataFrame): DataFrame = {
    val id = col("doc_id")
    val ids = id.cast("string")
    def branchHtml(segs: Seq[String]): Column =
      concat(segs.zipWithIndex.flatMap { case (seg, i) =>
        (if (i == 0) Seq.empty[Column] else Seq(ids)) :+ lit(seg)
      }: _*)
    val branches = MainContentBranches.map(branchHtml)
    base.select(id,
      branches.zipWithIndex.tail.foldLeft(
        when(id % 6 === 0, branches(0))) {
        case (acc, (b, i)) => acc.when(id % 6 === i, b)
      }.as("html"))
  }

  /** MAIN-CONTENT extraction ([[MainContent.extract]], jusText/
    * Boilerpipe-style within-page block classification — the step
    * between raw HTML and every quality filter): block split on
    * structural tags, per-block link/stop densities, the
    * neighbor-context pass, and the kept-blocks reassembly, all over
    * the planted page fixtures with every regex in the Java∩RE2-
    * agreeing subset so the oracle replays the split, the densities,
    * both class passes, and the joined content byte-for-byte.
    */
  val q209MainContent: Q = (s, dir) =>
    MainContent.extract(mainContentCorpus(byDocId(docs(s, dir))), "doc_id", "html")
      .orderBy("doc_id")

  /** The per-block diagnostics under q209's fixtures
    * ([[MainContent.blockReport]]): word counts, 6-dp link/stop
    * densities, the initial class, and the context-fixed final class
    * — every threshold decision is a gated row.
    */
  val q210MainContentBlocks: Q = (s, dir) =>
    MainContent.blockReport(mainContentCorpus(byDocId(docs(s, dir))), "doc_id", "html")
      .orderBy("doc_id", "block_idx")

  /** STREAMING main-content extraction — [[MainContent.extract]] is a
    * zero-exchange per-row projection (block arrays staged as
    * columns), so it runs at ingest as a stateless stream transform;
    * bit-identical to batch, oracle = q209's SQL verbatim (the
    * q199/q204 discipline).
    */
  val q211StreamingMainContent: Q = (s, dir) => {
    val mixed = mainContentCorpus(docs(s, dir))
    streamGate("q211in", dir, mixed)(MainContent.extract(_, "doc_id", "html"))
      .orderBy("doc_id")
  }

  /** END-TO-END web ingestion (the q49/q100 e2e discipline applied to
    * the round-18 tier): raw HTML pages → [[MainContent.extract]]
    * main-content text → [[GopherQuality.report]] format filter over
    * the EXTRACTED content — the real first two stages of a web
    * corpus pipeline composed under one gate. `minWords` is tuned to
    * the fixture's content size (8 — exercising the r18 tunable
    * thresholds; everything else at Gopher defaults). The oracle
    * chains the main-content replay into the generic Gopher metric
    * tail — block split through the conjunction verdict in one SQL
    * statement.
    */
  val q213WebPipeline: Q = (s, dir) => {
    val content = MainContent.extract(mainContentCorpus(byDocId(docs(s, dir))),
        "doc_id", "html")
      .select(col("doc_id"), col("content"))
    GopherQuality.report(content, "doc_id", "content", minWords = 8L)
      .orderBy("doc_id")
  }

  /** MERGEABLE QUANTILE SKETCH (Greenwald–Khanna via Spark's
    * `percentile_approx`) — the quantile member of the sketch family
    * beside HLL (q45/q78), KMV (q103/q130/q185) and count-min (q97):
    * per-language doc-length medians where each partition ships a
    * fixed-size summary and the merge is associative — the 100 TB
    * shape (an exact median needs a per-group sort or cumulative
    * pass; the sketch needs one scan). GK is deterministic but
    * MERGE-ORDER-dependent, so the gate is the q45 within-bounds
    * discipline: the approximate median's RANK interval must land
    * within 2·N/accuracy + 1 ranks of p·N — 2ε because the
    * distributed MERGE degrades GK's single-summary ε guarantee to
    * ε₁+ε₂ (measured live: accuracy = 100 missed the single-ε bound
    * by one rank on this corpus), +1 for integer-rank discreteness;
    * accuracy = 1000. The boolean is under the hash gate with the
    * exact DISCRETE median (smallest value at cumulative rank
    * ≥ ⌊(N+1)/2⌋, integer logic both engines) and the count.
    */
  val q214QuantileSketch: Q = (s, dir) => {
    val d = docs(s, dir)
    val counts = d.groupBy("lang", "n_chars").agg(count(lit(1)).as("_c"))
    val n = counts.groupBy("lang").agg(sum(col("_c")).as("n_docs"))
    val appr = d.groupBy("lang")
      .agg(percentile_approx(col("n_chars"), lit(0.5), lit(1000)).as("_a"))
    val w = Window.partitionBy("lang").orderBy("n_chars")
    val med = counts.withColumn("_cum", sum(col("_c")).over(w))
      .join(n, "lang")
      .filter(col("_cum") >=
        floor((col("n_docs") + 1) / 2).cast("long"))
      .groupBy("lang").agg(min(col("n_chars")).as("exact_median"))
    val bounds = counts.join(appr, "lang").join(n, "lang")
      .groupBy(col("lang"), col("n_docs"))
      .agg(
        sum(when(col("n_chars") < col("_a"), col("_c")).otherwise(0L))
          .as("_lo"),
        sum(when(col("n_chars") <= col("_a"), col("_c")).otherwise(0L))
          .as("_hi"))
      .select(col("lang"),
        (lit(0.5) * col("n_docs") >=
          col("_lo") + 1 - (lit(2.0) * col("n_docs") / 1000.0 + 1) &&
          lit(0.5) * col("n_docs") <=
            col("_hi") + lit(2.0) * col("n_docs") / 1000.0 + 1)
          .as("within_bounds"))
    n.join(med, "lang").join(bounds, "lang")
      .select(col("lang"), col("n_docs"), col("exact_median"),
        col("within_bounds"))
      .orderBy("lang")
  }

  /** Planted pages for the C4 line filters (q215/q216) — branch
    * `doc_id % 5`: 0 = clean page (3 good lines survive; a short line
    * and an unpunctuated line die), 1 = only 2 sentences survive →
    * page dropped, 2 = "lorem ipsum" page, 3 = curly-brace page (the
    * code line also fails the terminal-punct rule), 4 = a javascript
    * warning LINE dies but the PAGE survives. Good lines carry
    * exactly one terminal mark so sentence counts are exact.
    */
  val C4Branches: Seq[Seq[String]] = {
    val g1 = "the data of training and that model have with pipeline item"
    val g2 = " works.\nmore data of the training corpus flows through item"
    val g3 = " cleanly.\nthe final line of page item"
    Seq(
      // 0: clean — 3 good lines + 2 dropped lines
      Seq(s"$g1$g2$g3", " ends here.\nok.\nno terminal punctuation here"),
      // 1: only 2 surviving sentences → too_few_sentences
      Seq(s"$g1$g2", " cleanly.\nok."),
      // 2: lorem ipsum page marker (the line itself survives the
      //    line rules — the PAGE rule drops the doc)
      Seq(s"$g1$g2$g3",
        " ends here.\nLorem ipsum dolor sit amet consectetur item", "."),
      // 3: curly-brace page; the code line also fails terminal punct
      Seq(s"$g1$g2$g3", " ends here.\nfunction foo() { return 1; }"),
      // 4: javascript warning line dies, page survives
      Seq(s"$g1$g2$g3",
        " ends here.\nThis site requires JavaScript enabled to work item",
        "."))
  }

  private def c4Corpus(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val ids = id.cast("string")
    def branchText(segs: Seq[String]): Column =
      concat(segs.zipWithIndex.flatMap { case (seg, i) =>
        (if (i == 0) Seq.empty[Column] else Seq(ids)) :+ lit(seg)
      }: _*)
    val branches = C4Branches.map(branchText)
    docs(s, dir).select(id,
      branches.zipWithIndex.tail.foldLeft(
        when(id % 5 === 0, branches(0))) {
        case (acc, (b, i)) => acc.when(id % 5 === i, b)
      }.as("text"))
  }

  /** C4 line-level cleaning (Raffel et al. JMLR 2020 §2.2,
    * [[C4Filter.clean]]): terminal-punctuation line retention, the
    * ≥5-word line rule, javascript-line removal, and the three page
    * rules (≥3 surviving sentences, lorem ipsum, curly brace) over
    * planted single-rule pages — kept text, counts, the keep verdict
    * and the first-matching drop reason all replayed in SQL.
    */
  val q215C4Filter: Q = (s, dir) =>
    C4Filter.clean(c4Corpus(s, dir), "doc_id", "text").orderBy("doc_id")

  /** STREAMING C4 cleaning — [[C4Filter.clean]] is a zero-exchange
    * per-row projection, so it runs at ingest statelessly;
    * bit-identical to batch, oracle = q215's SQL verbatim.
    */
  val q216StreamingC4Filter: Q = (s, dir) => {
    val mixed = c4Corpus(s, dir)
    streamGate("q216in", dir, mixed)(C4Filter.clean(_, "doc_id", "text"))
      .orderBy("doc_id")
  }

  /** Planted pages for the FULL Gopher repetition filter (q217) —
    * five "\n\n"-separated paragraphs per doc: para 1 is the varied
    * base text, paras 2/3 duplicate each other on doc_id % 3
    * (paragraph metrics), para 4 repeats a 10-token phrase twice on
    * doc_id % 7 (fires every dup-{5..10} coverage: the k-gram at
    * window 1 equals the one at window 11 for all k ≤ 10), para 5 is
    * q198's "buy now" × 6 spam on doc_id % 5 (top-{2,3,4}-gram
    * fractions — and, being a 2-token phrase repeated 6×, dup-n
    * signal across the whole n range too). Unique doc-id tails keep
    * unplanted branches free of duplicate LINES/PARAGRAPHS and of
    * duplicate grams at n ≥ 3 — but NOT fully duplicate-free at
    * n = 2: paras 2 and 3 both end "… para <id>", so every unplanted
    * doc carries that one repeated 2-gram (harmless — engine and
    * oracle replay the same text — but it does contribute to the
    * 2-gram metrics; ADVICE r18). Cross-paragraph k-grams are
    * otherwise unique by construction (each boundary token sequence
    * appears once per doc).
    */
  private def fullRepetitionCorpus(base: DataFrame): DataFrame = {
    val id = col("doc_id")
    val ids = id.cast("string")
    val ten = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    base.select(col("doc_id"), concat(
      lit("intro "), col("text"), lit("\n\n"),
      when(id % 3 === 0, lit("shared paragraph body repeated"))
        .otherwise(concat(lit("solo para "), ids)), lit("\n\n"),
      when(id % 3 === 0, lit("shared paragraph body repeated"))
        .otherwise(concat(lit("other para "), ids)), lit("\n\n"),
      when(id % 7 === 0, lit(s"$ten $ten"))
        .otherwise(concat(lit("tail ten "), ids)), lit("\n\n"),
      when(id % 5 === 0,
        lit("buy now buy now buy now buy now buy now buy now"))
        .otherwise(concat(lit("end e"), ids))).as("text"))
  }

  /** The COMPLETE Gopher Table A1 repetition half
    * ([[Repetition.reportFull]]): q198's line metrics plus paragraph
    * duplicates, top-{2,3,4}-gram char fractions, and the six
    * dup-{5..10}-gram interval-union coverages — thirteen thresholds
    * under one pass verdict, each fired by its own fixture branch
    * and replayed in SQL (the per-n gram CTEs are GENERATED from the
    * same (n, threshold) tables the operator uses).
    */
  val q217FullRepetition: Q = (s, dir) =>
    Repetition.reportFull(fullRepetitionCorpus(byDocId(docs(s, dir))), "doc_id", "text")
      .orderBy("doc_id")

  /** STREAMING end-to-end web ingestion — q213's two stages
    * ([[MainContent.extract]] → [[GopherQuality.report]] over the
    * extracted content) are BOTH zero-exchange per-row projections,
    * so the whole raw-HTML→verdict path runs at ingest as one
    * stateless stream transform; bit-identical to batch, oracle =
    * q213's SQL verbatim (the q199/q204/q211/q216 discipline).
    */
  val q218StreamingWebPipeline: Q = (s, dir) => {
    val mixed = mainContentCorpus(docs(s, dir))
    streamGate("q218in", dir, mixed) { stream =>
      val content = MainContent.extract(stream, "doc_id", "html")
        .select(col("doc_id"), col("content"))
      GopherQuality.report(content, "doc_id", "content", minWords = 8L)
    }.orderBy("doc_id")
  }

  /** q219's stored BM25 index (16 buckets), written once per corpus
    * dir. */
  private def bm25Index(s: SparkSession, dir: String): String =
    memoFixture("q219idx", dir) { p =>
      Retrieval.writeInvertedIndex(docs(s, dir), "doc_id", "text", p,
        nBuckets = 16)
    }

  /** STORED BM25 INVERTED INDEX ([[Retrieval.writeInvertedIndex]] /
    * [[Retrieval.bm25TopKFromIndex]]) — the lexical twin of the
    * stored ANN index tier (q200/q201): tokenize and aggregate the
    * corpus ONCE into bucket-partitioned postings + a mergeable
    * stats sidecar, then serve q75's exact query from T partition
    * directories instead of a full corpus scan. Oracle = the q75
    * three-term BM25 SQL replay verbatim — served scores must be
    * bit-identical to the from-scratch scan.
    */
  val q219StoredBm25Index: Q = (s, dir) => {
    val idx = bm25Index(s, dir)
    Retrieval.bm25TopKFromIndex(s, idx, "doc_id",
      Seq("spark", "join", "stream"), k = 20)
  }

  /** INCREMENTAL APPEND to the stored BM25 index
    * ([[Retrieval.appendToInvertedIndex]]): base index over 3/4 of
    * the corpus, one crawl delta appended — postings are a pure
    * per-doc function of (text, nBuckets) and the stats sidecar is
    * summed at serve time, so N/avgdl/df — and hence every score,
    * including those of BASE docs — equal the full-rebuild values
    * exactly. Oracle = the full-corpus BM25 SQL replay (append ≡
    * rebuild, the q207 gate shape for the lexical tier).
    */
  val q220Bm25IndexAppend: Q = (s, dir) => {
    val idx = memoFixture("q220idx", dir) { p =>
      val d = docs(s, dir)
      Retrieval.writeInvertedIndex(d.filter(col("doc_id") % 4 =!= 0),
        "doc_id", "text", p, nBuckets = 16)
      Retrieval.appendToInvertedIndex(d.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", p)
    }
    Retrieval.bm25TopKFromIndex(s, idx, "doc_id",
      Seq("data", "table", "merge", "vector"), k = 20)
  }

  /** OPERATING-POINT SWEEP over the stored IVF-PQ index (the q133
    * LSH-tuning discipline applied to the ANN serving tier): mean
    * recall@5 of the cell-pruned serve at nProbe ∈ {1, 2, 4} against
    * the exact gold — the measured recall-vs-directories-read
    * tradeoff a 100 TB deployment tunes, since each +1 nProbe reads
    * exactly one more codes partition directory per query. Reuses
    * q201's stored index and q132's exact-gold fixtures; each
    * operating point's full ranking replays in SQL, so the hash gate
    * covers all three, not just the headline number. The sweep
    * MEASURES rather than assumes monotonicity: on an unclustered
    * corpus with seeded cells, extra probes can slightly LOWER
    * recall (more ADC candidates can displace gold from the rounded
    * top-5) — exactly the effect a tuning table exists to surface
    * (observed at sf0.01: 0.160 / 0.168 / 0.164 for nProbe 1/2/4).
    */
  val q221IvfPqProbeSweep: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 50)
    val exact = s.read.parquet(exactGold(emb, dir))
    val idx = ivfPqIndex(emb, dir)
    Seq(1, 2, 4).map { p =>
      Similarity.pqIvfTopKFromIndex(q, idx, "vec_id", "embedding",
          k = 5, nProbe = p)
        .select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("_m"))
        .crossJoin(exact.agg(count(lit(1)).as("_t")))
        .select(lit(p.toLong).as("n_probe"),
          round(col("_m").cast("double") / col("_t").cast("double"), 6)
            .as("mean_recall"))
    }.reduce(_ unionByName _).orderBy("n_probe")
  }

  /** STREAMING full Table A1 repetition filter
    * ([[Repetition.reportFullRowwise]] — all thirteen metrics as one
    * zero-exchange per-row projection, the q199 trade extended to
    * the complete rule set): runs at ingest statelessly,
    * bit-identical to q217's shuffle form, oracle = q217's SQL
    * verbatim.
    */
  val q222StreamingFullRepetition: Q = (s, dir) => {
    val mixed = fullRepetitionCorpus(docs(s, dir))
    streamGate("q222in", dir, mixed)(Repetition.reportFullRowwise(_, "doc_id", "text"))
      .orderBy("doc_id")
  }

  /** BATCH multi-query serving from the stored BM25 index
    * ([[Retrieval.bm25TopKBatchFromIndex]]): q119's eight standing
    * queries answered from q219's index in ONE probed-bucket read —
    * the union of all 10 distinct terms prunes the postings scan
    * once, every query's fixed-order score tree is a projection over
    * the shared (tf, df) pivot, and the per-query top-k is the
    * mergeable grouped bottom-k. Oracle = eight per-query BM25
    * replays (each over its OWN term order) union'd — served
    * scores/ranks/tie-breaks must equal the full-scan batch
    * retriever bit-for-bit.
    */
  val q223Bm25BatchServe: Q = (s, dir) => {
    val idx = bm25Index(s, dir)
    Retrieval.bm25TopKBatchFromIndex(s, idx, "doc_id", HybridQueries, k = 10)
      .orderBy("query_id", "rank")
  }

  /** STREAMING query serving from the stored BM25 index: standing
    * queries ARRIVE as a stream of (query_id, terms) rows and each
    * micro-batch is served stream-static from q219's index — the
    * batch's queries (a micro-batch-sized, bounded collect) drive
    * the same probed-bucket read and fixed-order scoring as q223, so
    * per-query results are batch-independent, the streamed union ≡
    * the batch serve bit-for-bit, and the oracle is q223's SQL
    * verbatim. Per-batchId idempotent sink (the q202 discipline).
    */
  val q224StreamingBm25Serve: Q = (s, dir) => {
    import s.implicits._
    val idx = bm25Index(s, dir)
    streamServe("q224in", dir, HybridQueries.toDF("query_id", "terms")) { batch =>
      val qs = batch.select(col("query_id"), col("terms")).collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).toSeq
      Option.when(qs.nonEmpty)(
        Retrieval.bm25TopKBatchFromIndex(s, idx, "doc_id", qs, k = 10))
    }.orderBy("query_id", "rank")
  }

  /** PHRASE QUERY from a POSITIONAL index
    * ([[Retrieval.writePositionalIndex]] /
    * [[Retrieval.phraseOccurrencesFromIndex]], the Lucene positions
    * tradeoff): planted corpus where doc_id % 4 plants the phrase
    * twice / once / a 2-of-3 prefix / not at all, the index stores
    * per-(term, doc) sorted position lists in bucket partitions, and
    * the serve reads ONLY the phrase terms' buckets and counts
    * position alignments. Position alignment over whitespace tokens
    * ≡ counting the phrase's m-grams in the text, which is exactly
    * how the oracle replays it — the base document text rides along
    * in both engines, so any natural occurrences count identically.
    */
  val q225PhraseFromIndex: Q = (s, dir) => {
    val corp = phraseCorpus(s, dir)
    val idx = positionalIndex(corp, dir)
    Retrieval.phraseOccurrencesFromIndex(s, idx, "doc_id",
      Seq("alpha", "beta", "gamma")).orderBy("doc_id")
  }

  /** q225's stored positional index over [[phraseCorpus]] (8 buckets),
    * written once per corpus dir. */
  private def positionalIndex(corp: DataFrame, dir: String): String =
    memoFixture("q225idx", dir) { p =>
      Retrieval.writePositionalIndex(corp, "doc_id", "text", p,
        nBuckets = 8)
    }

  /** Planted phrase corpus for q225 — the phrase, twice the phrase,
    * a 2-of-3 prefix (must NOT match), or a unique filler, appended
    * to the varied base text.
    */
  private def phraseCorpus(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val ids = id.cast("string")
    docs(s, dir).select(col("doc_id"), concat(
      lit("prefix "), col("text"), lit(" "),
      when(id % 4 === 0, lit("alpha beta gamma alpha beta gamma"))
        .when(id % 4 === 1, lit("alpha beta gamma"))
        .when(id % 4 === 2, lit("alpha beta delta"))
        .otherwise(concat(lit("filler f"), ids)),
      lit(" suffix")).as("text"))
  }

  /** INDEX COMPACTION ([[Retrieval.compactInvertedIndex]]): q220's
    * appended index (2 stats rows, per-append files in each bucket)
    * compacted to a fresh path — write-new-flip-pointer, the
    * object-store-safe shape — then served. Oracle = the FULL-corpus
    * BM25 replay: compaction must be invisible to every score.
    */
  val q226Bm25IndexCompact: Q = (s, dir) => {
    val idx = memoFixture("q226idx", dir) { p =>
      val d = docs(s, dir)
      Retrieval.writeInvertedIndex(d.filter(col("doc_id") % 4 =!= 0),
        "doc_id", "text", s"$p/src", nBuckets = 16)
      Retrieval.appendToInvertedIndex(d.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", s"$p/src")
      Retrieval.compactInvertedIndex(s, s"$p/src", s"$p/idx")
    }
    Retrieval.bm25TopKFromIndex(s, s"$idx/idx", "doc_id",
      Seq("join", "hash", "row"), k = 20)
  }

  /** VOCABULARY REPORT from the stored index
    * ([[Retrieval.vocabularyFromIndex]]): corpus df/cf heavy hitters
    * as one aggregate over the slim postings — the q70 shape without
    * ever re-reading text. Oracle replays df (distinct docs
    * containing the term) and cf (total occurrences) from the raw
    * tokens.
    */
  val q227VocabFromIndex: Q = (s, dir) => {
    val idx = bm25Index(s, dir)
    Retrieval.vocabularyFromIndex(s, idx, k = 20)
  }

  /** DIRICHLET QUERY-LIKELIHOOD retrieval from the stored index
    * ([[Retrieval.qlTopKFromIndex]], Zhai & Lafferty SIGIR 2001): a
    * SECOND ranking family over the same postings, exercising what
    * BM25 does not — collection frequency and corpus token count
    * from the summed stats. The query includes a corpus-absent term
    * (cf = 0 contributes 0 by convention, both engines). Oracle
    * replays the smoothed log-likelihood tree term-for-term.
    */
  val q228QlFromIndex: Q = (s, dir) => {
    val idx = bm25Index(s, dir)
    Retrieval.qlTopKFromIndex(s, idx, "doc_id",
      Seq("spark", "join", "stream", "zzzunseen"), k = 20)
  }

  /** PROXIMITY query from the positional index
    * ([[Retrieval.proximityFromIndex]]): "alpha within 2 tokens of
    * gamma" over q225's planted corpus and stored index — the
    * slop-query companion to the exact phrase. Oracle replays the
    * min-over-position-pairs from raw tokens.
    */
  val q229ProximityFromIndex: Q = (s, dir) => {
    val corp = phraseCorpus(s, dir)
    val idx = positionalIndex(corp, dir)
    Retrieval.proximityFromIndex(s, idx, "doc_id", "alpha", "gamma",
      window = 2).orderBy("doc_id")
  }

  /** The FULL HYBRID SERVING STACK from stored indexes — q119's
    * retrieve-and-fuse pipeline with BOTH retrievers answering from
    * encode-once storage instead of corpus scans: sparse = the eight
    * standing queries from the bucket-pruned BM25 postings (q223
    * serving, bit-identical to the full scan), dense = the certified
    * PQ screen + exact re-score over q200's stored codes (output ≡
    * brute force for any codebook), fused with the integer-exact
    * RRF. Because both serves are proven rank-identical to their
    * scan twins, the oracle is q119's SQL VERBATIM — the production
    * composition gated end-to-end with zero new oracle surface.
    */
  val q230HybridFromIndexes: Q = (s, dir) => {
    val lexIdx = bm25Index(s, dir)
    val annIdx = pqIndex(Tables.embeddings(s, dir), dir)
    hybridFromIndexes(s, dir, lexIdx, annIdx)
  }

  /** The shared hybrid-serving composition: q119's retrieve-and-fuse
    * with sparse = batch BM25 from `lexIdx` and dense = the certified
    * PQ screen + exact re-score from the stored codes at `annIdx`,
    * fused with the integer-exact RRF. q230 feeds it freshly-built
    * base indexes; q234 the re-crawl-superseded pair — both serve
    * the same TRUE corpus, so q119's oracle gates both verbatim.
    */
  private def hybridFromIndexes(s: SparkSession, dir: String,
      lexIdx: String, annIdx: String,
      lexAsOf: Long = Long.MaxValue,
      annAsOf: Long = Long.MaxValue): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val sparse = Retrieval.bm25TopKBatchFromIndex(s, lexIdx, "doc_id",
        HybridQueries, k = 30, asOfGen = lexAsOf)
      .select("query_id", "doc_id", "rank")
    val dense = Similarity.pqTopKFromIndex(emb.filter(col("vec_id") < 8),
        emb, "vec_id", "embedding", k = 30, annIdx, roundDp = -1,
        asOfGen = annAsOf)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(Seq(sparse, dense), "query_id", "doc_id", "rank",
        k = 20)
      .orderBy("query_id", "rank")
  }

  /** The re-crawl-superseded BM25 index: base = 3/4 of the corpus
    * with STALE text for the %8==1 docs, one append re-ingesting
    * those docs (true text) alongside the new %4==0 docs — the
    * production index state after a crawl cycle. Shared by q231
    * (direct serve gate) and q234 (hybrid composition over it).
    */
  private def reingestInvertedIndex(s: SparkSession, dir: String): String =
    memoFixture("q231idx", dir) { p =>
      val d = docs(s, dir)
      val base = d.filter(col("doc_id") % 4 =!= 0).select(col("doc_id"),
        when(col("doc_id") % 8 === 1,
          concat(lit("stale placeholder s"), col("doc_id").cast("string")))
          .otherwise(col("text")).as("text"))
      Retrieval.writeInvertedIndex(base, "doc_id", "text", p, nBuckets = 16)
      Retrieval.appendToInvertedIndex(
        d.filter(col("doc_id") % 4 === 0 || col("doc_id") % 8 === 1),
        "doc_id", "text", p)
    }

  /** RE-CRAWL SUPERSEDE on the stored BM25 index
    * ([[Retrieval.appendToInvertedIndex]]'s (id, gen) tombstone
    * sidecar — the ANN tier's q207 mechanism, lexical edition): a
    * re-ingested doc's stale postings are scattered across OTHER
    * term buckets than its replacement's, so serving kills them with
    * an id-level broadcast filter, and the summed stats shed the
    * stale docs' (1, dl) through the id-bucketed doclens correction
    * (literal-pruned to the tombstoned ids' directories). Serving ≡
    * a full rebuild over (base \ re-ingested) ∪ delta = the TRUE
    * corpus, so the oracle is the plain-corpus BM25 replay verbatim;
    * the query's stale-only term ("placeholder") must contribute
    * zero everywhere.
    */
  val q231Bm25IndexReingest: Q = (s, dir) =>
    Retrieval.bm25TopKFromIndex(s, reingestInvertedIndex(s, dir), "doc_id",
      Seq("spark", "data", "placeholder"), k = 20)

  /** The re-crawl-superseded POSITIONAL index over q225's planted
    * phrase corpus: stale %8==1 texts plant the phrase terms in the
    * WRONG order (no "alpha beta gamma" trigram, but an alpha/gamma
    * bigram at distance 1) so BOTH the phrase gate (q232) and the
    * proximity gate (q233) would catch a failed supersede.
    */
  private def reingestPositionalIndex(s: SparkSession, dir: String): String =
    memoFixture("q232idx", dir) { p =>
      val corp = phraseCorpus(s, dir)
      val base = corp.filter(col("doc_id") % 4 =!= 0).select(col("doc_id"),
        when(col("doc_id") % 8 === 1,
          lit("stale gamma alpha gamma alpha end"))
          .otherwise(col("text")).as("text"))
      Retrieval.writePositionalIndex(base, "doc_id", "text", p, nBuckets = 8)
      Retrieval.appendToPositionalIndex(
        corp.filter(col("doc_id") % 4 === 0 || col("doc_id") % 8 === 1),
        "doc_id", "text", p)
    }

  /** POSITIONAL-INDEX LIFECYCLE, append half
    * ([[Retrieval.appendToPositionalIndex]]): positional postings
    * are pure per-doc functions, so append ≡ rebuild needs only the
    * tombstone supersede — no stats sidecar exists to correct.
    * Phrase serving over base+delta must equal q225's oracle
    * verbatim over the TRUE corpus.
    */
  val q232PositionalIndexAppend: Q = (s, dir) =>
    Retrieval.phraseOccurrencesFromIndex(s,
      reingestPositionalIndex(s, dir), "doc_id",
      Seq("alpha", "beta", "gamma")).orderBy("doc_id")

  /** POSITIONAL-INDEX LIFECYCLE, compaction half
    * ([[Retrieval.compactPositionalIndex]]): the appended +
    * tombstoned index of q232 rewritten live-only (generations
    * reset, no tombstone sidecar) at a new path —
    * write-new-flip-pointer. Proximity serving from the compacted
    * index must equal q229's oracle verbatim (min pair distance via
    * the merge walk), proving compaction invisible AND the
    * supersede folded away rather than dropped.
    */
  val q233PositionalIndexCompact: Q = (s, dir) => {
    val src = reingestPositionalIndex(s, dir)
    val idx = memoFixture("q233idx", dir) { p =>
      Retrieval.compactPositionalIndex(s, src, p)
    }
    Retrieval.proximityFromIndex(s, idx, "doc_id", "alpha", "gamma",
      window = 2).orderBy("doc_id")
  }

  /** The FULL HYBRID STACK over LIVE indexes — q230's composition
    * re-gated in the PRODUCTION index state: the lexical side serves
    * from q231's re-crawl-superseded BM25 index, the dense side from
    * a flat-PQ index built over a STALE embedding base (%8==1
    * vectors reversed, %4==0 missing, codebooks trained on that
    * stale corpus) then appended with the true vectors
    * ([[Similarity.appendToPqIndex]] — frozen books, tombstone
    * supersede; stale codes would break the ADC certificate, so the
    * supersede is correctness-critical, not hygiene). Both serves
    * equal their scan twins over the TRUE corpus after the
    * lifecycle, so q119's oracle gates the fusion verbatim — zero
    * new oracle surface for the whole production composition.
    */
  val q234HybridLiveIndexes: Q = (s, dir) => {
    val lexIdx = reingestInvertedIndex(s, dir)
    val annIdx = memoFixture("q234idx", dir) { p =>
      val emb = Tables.embeddings(s, dir)
      val staleBase = emb.filter(col("vec_id") % 4 =!= 0).select(
        col("vec_id"),
        when(col("vec_id") % 8 === 1, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding"))
      val books = Similarity.pqCodebooksExact(staleBase, "vec_id",
        "embedding", dim = 64, m = 4, ks = 16, iters = 2)
      Similarity.writePqIndex(staleBase, "vec_id", "embedding", books, p)
      Similarity.appendToPqIndex(
        emb.filter(col("vec_id") % 4 === 0 || col("vec_id") % 8 === 1),
        p, "vec_id", "embedding")
    }
    hybridFromIndexes(s, dir, lexIdx, annIdx)
  }

  /** STREAMING query serving over the SUPERSEDED index — the last
    * serving-shape × lifecycle-state cell: q224's stream-static
    * per-trigger serve pointed at q231's re-crawl-superseded index
    * instead of the freshly-built base. The tombstone broadcast
    * filter and the doclens stats correction run inside every
    * micro-batch plan; since the superseded index serves the TRUE
    * corpus, the oracle is q223/q224's batch SQL verbatim.
    */
  val q235StreamingSupersededServe: Q = (s, dir) => {
    import s.implicits._
    val idx = reingestInvertedIndex(s, dir)
    streamServe("q224in", dir, HybridQueries.toDF("query_id", "terms")) { batch =>
      val qs = batch.select(col("query_id"), col("terms")).collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).toSeq
      Option.when(qs.nonEmpty)(
        Retrieval.bm25TopKBatchFromIndex(s, idx, "doc_id", qs, k = 10))
    }.orderBy("query_id", "rank")
  }

  /** COMPACTION for the stored IVF-PQ index
    * ([[Similarity.compactIvfPqIndex]]) — the ANN twin of q226/q233:
    * q207's appended + tombstoned index rewritten live-only
    * (supersede applied, generations reset, books/cells/meta copied,
    * no tombstone sidecar) at a new path, WITHOUT re-encoding a
    * single vector — codes are already stored, so compaction is one
    * partitioned rewrite of the slim codes table (vs the
    * rebuild-to-compact the tier used to prescribe). Serving from
    * the compacted index ≡ the appended index ≡ the full rebuild:
    * q201/q207's oracle verbatim.
    */
  val q236IvfPqIndexCompact: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 50)
    val exact = s.read.parquet(exactGold(emb, dir))
    val src = appendedIvfPqIndex(emb, dir)
    val idx = memoFixture("q236idx", dir) { p =>
      Similarity.compactIvfPqIndex(s, src, p)
    }
    val approx = Similarity.pqIvfTopKFromIndex(q, idx, "vec_id",
        "embedding", k = 5, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"))
    pqRecallReport(exact, approx)
  }

  /** STREAMING CRAWL INGEST into the stored BM25 index
    * ([[graft.streaming.StreamingIndexIngest]]): the crawl arrives
    * as a document stream — micro-batch 1 the new docs, micro-batch
    * 2 a RE-CRAWL of the %8==1 docs whose stale text sits in the
    * base index — and each batch becomes one append generation under
    * the slice-commit protocol (exactly-once: committed batchIds
    * skip on re-delivery, mid-append orphans never reach the
    * manifest). Cross-batch supersede is the point: the later
    * batch's tombstones kill the base's stale postings. Served state
    * ≡ a rebuild over the TRUE corpus, so the oracle is the
    * plain-corpus BM25 replay with a stale-only term.
    */
  val q237StreamingIndexIngest: Q = (s, dir) => {
    val idx = memoFixture("q237idx", dir) { p =>
      val d = docs(s, dir)
      val base = d.filter(col("doc_id") % 4 =!= 0).select(col("doc_id"),
        when(col("doc_id") % 8 === 1,
          concat(lit("stale placeholder s"), col("doc_id").cast("string")))
          .otherwise(col("text")).as("text"))
      Retrieval.writeInvertedIndex(base, "doc_id", "text", s"$p/idx",
        nBuckets = 16)
      val in = s"$p/in"
      d.filter(col("doc_id") % 4 === 0).repartition(1)
        .write.mode("append").parquet(in)
      d.filter(col("doc_id") % 8 === 1).repartition(1)
        .write.mode("append").parquet(in)
      graft.streaming.StreamingIndexIngest.start(
        s.readStream.schema(d.schema).option("maxFilesPerTrigger", 1)
          .parquet(in),
        "doc_id", "text", s"$p/idx", s"$p/chk").awaitTermination()
    }
    Retrieval.bm25TopKFromIndex(s, s"$idx/idx", "doc_id",
      Seq("table", "stream", "placeholder"), k = 20)
  }

  /** STREAMING CRAWL INGEST into the stored IVF-PQ index — q237's
    * shape on the ANN tier ([[Similarity.appendToIvfPqIndex]] per
    * micro-batch under the same slice-commit protocol): batch 1 the
    * new vectors, batch 2 a RE-CRAWL of vectors whose negated stale
    * versions sit in the base index; encode against the FROZEN
    * books/cells, generations monotone in batchId, committed
    * batchIds skip on re-delivery. Served state ≡ a rebuild over the
    * TRUE corpus, so q201/q207's recall oracle gates it verbatim.
    */
  val q238StreamingAnnIngest: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 50)
    val exact = s.read.parquet(exactGold(emb, dir))
    val idx = memoFixture("q238idx", dir) { p =>
      // base: %3==0 vectors stale (negated), exactly q207's fixture —
      // but the true vectors now ARRIVE AS A STREAM in two batches
      val stale = emb.withColumn("embedding",
        when(col("vec_id") % 3 === 0, transform(col("embedding"), x => -x))
          .otherwise(col("embedding")))
      Similarity.writeIvfPqIndex(stale, emb.filter(col("vec_id") < 16),
        "vec_id", "embedding", m = 4, dim = 64, s"$p/idx",
        bookSeeds = emb.filter(col("vec_id") >= 16 && col("vec_id") < 32))
      val delta = emb.filter(col("vec_id") % 3 === 0)
      val in = s"$p/in"
      delta.filter(col("vec_id") % 2 === 0).repartition(1)
        .write.mode("append").parquet(in)
      delta.filter(col("vec_id") % 2 =!= 0).repartition(1)
        .write.mode("append").parquet(in)
      // the library's ANN ingest helper (per-stream namespaced keys,
      // slice-commit exactly-once — StreamingIndexIngest.startAnn)
      graft.streaming.StreamingIndexIngest.startAnn(
        s.readStream.schema(delta.schema).option("maxFilesPerTrigger", 1)
          .parquet(in),
        "vec_id", "embedding", s"$p/idx", s"$p/chk").awaitTermination()
      graft.core.OpCache.release()
    }
    val approx = Similarity.pqIvfTopKFromIndex(q, s"$idx/idx", "vec_id",
        "embedding", k = 5, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"))
    pqRecallReport(exact, approx)
  }

  /** RIGHT-TO-BE-FORGOTTEN DELETE from the stored BM25 index
    * ([[Retrieval.deleteFromInvertedIndex]]) — the takedown/opt-out
    * path a training-data pipeline must honor: a tombstone-only
    * append (O(|deletes|), no data file rewritten) removes docs from
    * EVERY serving statistic — postings die in every term bucket, df
    * and cf shrink, and N/total_len shed the deleted docs' (1, dl)
    * via the doclens correction. The fixture deletes from BOTH
    * lifecycle states (base-resident %16==2 docs and appended %16==4
    * docs) on top of q231's re-crawl-superseded index; oracle = the
    * BM25 replay over the corpus MINUS the deleted set.
    */
  /** q231's re-crawl index with a takedown batch on top — the full
    * three-generation lifecycle (base → gen-1 re-crawl append →
    * gen-2 delete). Shared by q239 (latest-state serve), q242
    * (time-travel serve as of gen 1), and q243 (the history report).
    */
  private def deletedInvertedIndex(s: SparkSession, dir: String): String =
    memoFixture("q239idx", dir) { p =>
      val d = docs(s, dir)
      val base = d.filter(col("doc_id") % 4 =!= 0).select(col("doc_id"),
        when(col("doc_id") % 8 === 1,
          concat(lit("stale placeholder s"), col("doc_id").cast("string")))
          .otherwise(col("text")).as("text"))
      Retrieval.writeInvertedIndex(base, "doc_id", "text", p, nBuckets = 16)
      Retrieval.appendToInvertedIndex(
        d.filter(col("doc_id") % 4 === 0 || col("doc_id") % 8 === 1),
        "doc_id", "text", p)
      Retrieval.deleteFromInvertedIndex(
        d.filter(col("doc_id") % 16 === 2 || col("doc_id") % 16 === 4)
          .select(col("doc_id")), "doc_id", p)
    }

  val q239IndexDelete: Q = (s, dir) =>
    Retrieval.bm25TopKFromIndex(s, deletedInvertedIndex(s, dir), "doc_id",
      Seq("spark", "row", "merge"), k = 20)

  /** TIME-TRAVEL READ ([[Retrieval.bm25TopKFromIndex]]'s `asOfGen`):
    * q239's index served AS OF generation 1 — after the re-crawl
    * append, BEFORE the gen-2 delete — reproducing the exact corpus
    * state a past training run retrieved from (pin the generation in
    * run metadata, re-serve it forever). The gen-1 state IS the true
    * corpus, so the oracle is the plain BM25 replay with NO delete
    * filter — the same terms as q239 return the pre-takedown ranking.
    */
  val q242TimeTravelServe: Q = (s, dir) =>
    Retrieval.bm25TopKFromIndex(s, deletedInvertedIndex(s, dir), "doc_id",
      Seq("spark", "row", "merge"), k = 20, asOfGen = 1L)

  /** INDEX HISTORY ([[Retrieval.indexHistory]]) — DESCRIBE HISTORY
    * for the commit manifest: q239's lifecycle reads back as gen 1
    * (the re-crawl append's doc count) and gen 2 (the takedown's doc
    * count); the oracle recomputes both counts from the fixture
    * predicates.
    */
  val q243IndexHistory: Q = (s, dir) =>
    Retrieval.indexHistory(s, deletedInvertedIndex(s, dir))

  /** DELETE from the positional index
    * ([[Retrieval.deleteFromPositionalIndex]]): q232's appended
    * index minus the %16==1 docs — which are exactly RE-INGESTED
    * docs (the delete's generation must outrank BOTH their stale and
    * their re-crawled instances). Phrase serving afterwards equals
    * q225's replay over the corpus minus the deleted set.
    */
  /** q232's appended positional index with a takedown on top (base →
    * gen-1 re-crawl append → gen-2 delete of the %16==1 docs — which
    * are exactly RE-INGESTED docs, so the delete's generation must
    * outrank BOTH their instances). ONE definition shared by q240
    * (latest-state serve), q244 (time travel) and q248 (history) —
    * the [[deletedInvertedIndex]] sharing rule (ADVICE r19: the
    * inline twin copies could silently desynchronize).
    */
  private def deletedPositionalIndex(s: SparkSession, dir: String): String =
    memoFixture("q240idx", dir) { p =>
      val corp = phraseCorpus(s, dir)
      val base = corp.filter(col("doc_id") % 4 =!= 0).select(col("doc_id"),
        when(col("doc_id") % 8 === 1,
          lit("stale gamma alpha gamma alpha end"))
          .otherwise(col("text")).as("text"))
      Retrieval.writePositionalIndex(base, "doc_id", "text", p, nBuckets = 8)
      Retrieval.appendToPositionalIndex(
        corp.filter(col("doc_id") % 4 === 0 || col("doc_id") % 8 === 1),
        "doc_id", "text", p)
      Retrieval.deleteFromPositionalIndex(
        corp.filter(col("doc_id") % 16 === 1).select(col("doc_id")),
        "doc_id", p)
    }

  val q240PositionalDelete: Q = (s, dir) =>
    Retrieval.phraseOccurrencesFromIndex(s, deletedPositionalIndex(s, dir),
      "doc_id", Seq("alpha", "beta", "gamma")).orderBy("doc_id")

  /** DELETE from the stored IVF-PQ index
    * ([[Similarity.deleteFromPqIndex]]): q207's appended index minus
    * the (vec_id ≥ 50, %7==3) vectors — ids ≥ 50 so the query set
    * (vec_id < 50) is untouched; some deleted ids (%3==0 ∧ %7==3)
    * were RE-INGESTED by the append, so the delete must outrank
    * generation 1 codes too. Serving reads only live codes, and both
    * the engine's exact gold and the oracle's entire CTE chain
    * (assignment, codes, estimates, exact top-5) replay over the
    * corpus MINUS the deleted set.
    */
  /** The ANN delete-lifecycle predicate shared by q241/q245/q246/
    * q251: takedown of (vec_id ≥ 50, %7==3) — ids ≥ 50 so the query
    * set (vec_id < 50) is untouched; some deleted ids (%3==0 ∧ %7==3)
    * were RE-INGESTED by the append, so the delete must outrank
    * generation 1 codes too. */
  private val annDeleted = col("vec_id") >= 50 && col("vec_id") % 7 === 3

  /** q207's appended IVF-PQ index with the [[annDeleted]] takedown on
    * top (base over sign-flipped %3==0 vectors → gen-1 re-crawl
    * append of the true %3==0 vectors → gen-2 delete). ONE
    * definition shared by q241 (latest-state serve), q245 (time
    * travel), q246 (history) and q251 (health) — the
    * [[deletedInvertedIndex]] sharing rule (ADVICE r19).
    */
  private def deletedAnnIndex(s: SparkSession, dir: String): String = {
    val emb = Tables.embeddings(s, dir)
    memoFixture("q241idx", dir) { p =>
      val stale = emb.withColumn("embedding",
        when(col("vec_id") % 3 === 0, transform(col("embedding"), x => -x))
          .otherwise(col("embedding")))
      Similarity.writeIvfPqIndex(stale, emb.filter(col("vec_id") < 16),
        "vec_id", "embedding", m = 4, dim = 64, p,
        bookSeeds = emb.filter(col("vec_id") >= 16 && col("vec_id") < 32))
      Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") % 3 === 0),
        p, "vec_id", "embedding")
      Similarity.deleteFromPqIndex(
        emb.filter(annDeleted).select(col("vec_id")), p, "vec_id")
      graft.core.OpCache.release()
    }
  }

  val q241AnnDelete: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 50)
    val exact = s.read.parquet(memoFixture("q241exact", dir) { p =>
      Similarity.bruteForceTopK(q, emb.filter(!annDeleted), "vec_id",
          "embedding", k = 5, roundDp = -1, exact = true)
        .select(col("query_id"), col("neighbor_id"))
        .write.mode("overwrite").parquet(p)
      graft.core.OpCache.release()
    })
    val approx = Similarity.pqIvfTopKFromIndex(q, deletedAnnIndex(s, dir),
        "vec_id", "embedding", k = 5, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"))
    pqRecallReport(exact, approx)
  }

  /** TIME TRAVEL on the positional index: q240's lifecycle (base →
    * gen-1 re-crawl append → gen-2 delete of the re-ingested docs)
    * served AS OF gen 1 — the pre-takedown state IS the true corpus,
    * so the oracle is the plain phrase replay (q225's, no delete
    * filter).
    */
  val q244PositionalTimeTravel: Q = (s, dir) =>
    Retrieval.phraseOccurrencesFromIndex(s, deletedPositionalIndex(s, dir),
      "doc_id", Seq("alpha", "beta", "gamma"), asOfGen = 1L)
      .orderBy("doc_id")

  /** TIME TRAVEL on the IVF-PQ index: q241's lifecycle served AS OF
    * gen 1 — after the re-crawl append, before the takedown — so the
    * served state is the TRUE corpus and q201/q207's recall replay
    * gates it verbatim (zero new oracle surface, same as q242's
    * lexical twin).
    */
  val q245AnnTimeTravel: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 50)
    val exact = s.read.parquet(exactGold(emb, dir))
    val approx = Similarity.pqIvfTopKFromIndex(q, deletedAnnIndex(s, dir),
        "vec_id", "embedding", k = 5, nProbe = 4, asOfGen = 1L)
      .select(col("query_id"), col("neighbor_id"))
    pqRecallReport(exact, approx)
  }

  /** INDEX HISTORY on the ANN manifest ([[Similarity.indexHistory]]):
    * q241's lifecycle reads back as gen 1 (the re-crawl append's
    * vector count) and gen 2 (the takedown's), counts recomputed by
    * the oracle from the fixture predicates over `embeddings`.
    */
  val q246AnnIndexHistory: Q = (s, dir) =>
    Similarity.indexHistory(s, deletedAnnIndex(s, dir))

  /** q239's three-generation lifecycle compacted to a fresh path —
    * write-new-flip-pointer with the lineage sidecar. Shared by q247
    * (health folds to zero), q249 (lineage history) and q250 (the
    * retention read from the still-live SOURCE path).
    */
  private def compactedDeletedIndex(s: SparkSession, dir: String): String = {
    val src = deletedInvertedIndex(s, dir)
    memoFixture("q247cmp", dir) { p =>
      Retrieval.compactInvertedIndex(s, src, p)
    }
  }

  /** MANIFEST HEALTH ([[IndexHealth.report]]) — the "should I
    * compact?" signal: on q239's live lifecycle the report counts
    * 2 generations / 2 committed slices / one tombstone row per
    * touched id (re-crawl append + takedown), and the estimated
    * serve-side broadcast bytes; compaction folds every counter to
    * ZERO (the serve plan is back to base shape). Oracle recomputes
    * both rows from the fixture predicates.
    */
  val q247IndexHealth: Q = (s, dir) =>
    IndexHealth.report(s, compactedDeletedIndex(s, dir))
      .withColumn("state", lit("compacted"))
      .unionByName(IndexHealth.report(s, deletedInvertedIndex(s, dir))
        .withColumn("state", lit("live")))
      .orderBy("state")

  /** INDEX HISTORY on the POSITIONAL manifest — the last lifecycle ×
    * index-family matrix cell (VERDICT r19 item 5): q240's lifecycle
    * reads back as gen 1 (the re-crawl append's doc count) and gen 2
    * (the takedown's), counts recomputed by the oracle from the
    * fixture predicates, exactly like q243 (lexical) and q246 (ANN).
    */
  val q248PositionalIndexHistory: Q = (s, dir) =>
    Retrieval.indexHistory(s, deletedPositionalIndex(s, dir))

  /** COMPACTION LINEAGE ([[IndexLineage]]): the compacted index's
    * history is exactly ONE row — generation 0 with batch_key
    * `compact:gen=2` (the source's final committed generation) and
    * the live doc count that was folded in. The recorded answer to
    * "this index's clock restarted; where did it come from?".
    */
  val q249CompactionLineage: Q = (s, dir) =>
    Retrieval.indexHistory(s, compactedDeletedIndex(s, dir))

  /** RETENTION TIME TRAVEL (the [[IndexLineage]] contract, gated):
    * after the compacted twin goes live, a run pinned to
    * `asOfGen = 1` of the SOURCE still reproduces its exact corpus
    * state from the retained source path — compaction never touches
    * the source, so the pre-takedown replay (q242's oracle verbatim)
    * must keep gating this read until the operator drops the path.
    */
  val q250RetentionTimeTravel: Q = (s, dir) => {
    val src = deletedInvertedIndex(s, dir)
    compactedDeletedIndex(s, dir) // the flip has happened
    Retrieval.bm25TopKFromIndex(s, src, "doc_id",
      Seq("spark", "row", "merge"), k = 20, asOfGen = 1L)
  }

  /** [[IndexHealth.report]] over the ANN manifest (shared layout,
    * neighbor_id auto-detected): q241's lifecycle counts — 2
    * generations (re-crawl append, takedown), 2 committed slices,
    * one row per touched vector id.
    */
  val q251AnnIndexHealth: Q = (s, dir) =>
    IndexHealth.report(s, deletedAnnIndex(s, dir))

  /** q234's flat-PQ lifecycle with a gen-2 takedown on top — its OWN
    * index copy (the shared-fixture rule: a delete must never mutate
    * a memoFixture another query reads). Deleted ids ≥ 8 keep the
    * dense query set (vec_id < 8) intact; at asOfGen = 1 the delete
    * is invisible and the index serves the TRUE embedding corpus.
    */
  private def deletedPqIndex(s: SparkSession, dir: String): String =
    memoFixture("q253idx", dir) { p =>
      val emb = Tables.embeddings(s, dir)
      val staleBase = emb.filter(col("vec_id") % 4 =!= 0).select(
        col("vec_id"),
        when(col("vec_id") % 8 === 1, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding"))
      val books = Similarity.pqCodebooksExact(staleBase, "vec_id",
        "embedding", dim = 64, m = 4, ks = 16, iters = 2)
      Similarity.writePqIndex(staleBase, "vec_id", "embedding", books, p)
      Similarity.appendToPqIndex(
        emb.filter(col("vec_id") % 4 === 0 || col("vec_id") % 8 === 1),
        p, "vec_id", "embedding")
      Similarity.deleteFromPqIndex(
        emb.filter(col("vec_id") >= 8 && col("vec_id") % 9 === 0)
          .select(col("vec_id")), p, "vec_id")
    }

  /** HYBRID TIME TRAVEL — the pins COMPOSE: the full sparse ⊕ dense
    * RRF stack served with BOTH tiers pinned to their pre-takedown
    * generation (lexical = q239's delete lifecycle asOf 1, dense =
    * q234's PQ lifecycle + takedown asOf 1). Each pinned state is
    * the TRUE corpus, so q119's fused replay gates the whole
    * composition verbatim — zero new oracle surface, and the
    * reproducibility story a training run actually needs (pin BOTH
    * index generations in run metadata, re-serve the exact hybrid
    * retrieval forever, takedowns notwithstanding).
    */
  val q253HybridTimeTravel: Q = (s, dir) =>
    hybridFromIndexes(s, dir, deletedInvertedIndex(s, dir),
      deletedPqIndex(s, dir), lexAsOf = 1L, annAsOf = 1L)

  /** STREAMING serve × TIME TRAVEL — the last serving-shape ×
    * lifecycle cell: q235's stream-static per-trigger batch serve,
    * pointed at q239's delete lifecycle and PINNED to `asOfGen = 1`
    * inside every micro-batch plan. The pinned state (post-re-crawl,
    * pre-takedown) is the TRUE corpus, so q223/q224's batch SQL
    * gates the streamed pinned serve verbatim — a standing
    * query-stream can re-serve a training run's exact retrieval
    * state forever, takedowns notwithstanding.
    */
  val q254StreamingTimeTravelServe: Q = (s, dir) => {
    import s.implicits._
    val idx = deletedInvertedIndex(s, dir)
    streamServe("q224in", dir, HybridQueries.toDF("query_id", "terms")) { batch =>
      val qs = batch.select(col("query_id"), col("terms")).collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).toSeq
      Option.when(qs.nonEmpty)(
        Retrieval.bm25TopKBatchFromIndex(s, idx, "doc_id", qs, k = 10,
          asOfGen = 1L))
    }.orderBy("query_id", "rank")
  }

  /** WRITE-NEW-FLIP-POINTER, the flip itself ([[IndexPointer]]): an
    * alias serves q226's lifecycle — base build + append, pointer
    * flipped to the source, then compaction and a SECOND flip to the
    * compacted path. Serving resolves the alias (now the compacted
    * index) and must equal the full-corpus replay — the flip and the
    * compaction both invisible to every score. Version history and
    * the flip-collision contract are spec-locked (paths are per-run
    * temp dirs, so the gate pins the serve, not the paths).
    */
  val q252PointerFlip: Q = (s, dir) => {
    val root = memoFixture("q252root", dir) { p =>
      val d = docs(s, dir)
      Retrieval.writeInvertedIndex(d.filter(col("doc_id") % 4 =!= 0),
        "doc_id", "text", s"$p/src", nBuckets = 16)
      Retrieval.appendToInvertedIndex(d.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", s"$p/src")
      IndexPointer.flip(s, s"$p/alias", s"$p/src")
      Retrieval.compactInvertedIndex(s, s"$p/src", s"$p/dst")
      IndexPointer.flip(s, s"$p/alias", s"$p/dst")
    }
    Retrieval.bm25TopKFromIndex(s, IndexPointer.resolve(s, s"$root/alias"),
      "doc_id", Seq("join", "hash", "row"), k = 20)
  }

  val all: Map[String, Q] = Map(
    "q01_catalog" -> q01Catalog,
    "q02_minmax" -> q02MinMax,
    "q03_projection" -> q03Projection,
    "q04_filters" -> q04Filters,
    "q05_calendar" -> q05Calendar,
    "q06_cube" -> q06Cube,
    "q07_spine" -> q07Spine,
    "q08_dedup" -> q08Dedup,
    "q09_ewma" -> q09Ewma,
    "q10_rolling" -> q10Rolling,
    "q11_rollup" -> q11Rollup,
    "q12_join_agg" -> q12JoinAgg,
    "q13_topk" -> q13TopK,
    "q14_dedup_exact" -> q14DedupExact,
    "q15_jaccard" -> q15Jaccard,
    "q16_minhash_lsh" -> q16MinhashLsh,
    "q17_cosine_topk" -> q17CosineTopK,
    "q18_text" -> q18Text,
    "q19_fingerprint" -> q19Fingerprint,
    "q20_lsh_ann" -> q20LshAnn,
    "q21_interp" -> q21Interp,
    "q22_physio_join" -> q22PhysioJoin,
    "q23_simhash" -> q23Simhash,
    "q24_multimodal" -> q24Multimodal,
    "q25_asof" -> q25AsOf,
    "q26_embed_dedup" -> q26EmbedDedup,
    "q27_distinct" -> q27Distinct,
    "q28_tfidf" -> q28Tfidf,
    "q29_ivf" -> q29Ivf,
    "q30_salted" -> q30Salted,
    "q31_range" -> q31Range,
    "q32_components" -> q32Components,
    "q33_setops" -> q33SetOps,
    "q34_sessionize" -> q34Sessionize,
    "q35_split" -> q35Split,
    "q36_profile" -> q36Profile,
    "q37_pivot" -> q37Pivot,
    "q38_unpivot" -> q38Unpivot,
    "q39_stratified" -> q39Stratified,
    "q40_jsonl_roundtrip" -> q40JsonlRoundtrip,
    "q41_rollup_month" -> q41RollupMonth,
    "q42_substring_dedup" -> q42SubstringDedup,
    "q43_interp_keyed" -> q43InterpKeyed,
    "q44_kmeans_train" -> q44KmeansTrain,
    "q45_hll_distinct" -> q45HllDistinct,
    "q46_contamination" -> q46Contamination,
    "q47_semdedup" -> q47SemDedup,
    "q48_pii_redact" -> q48PiiRedact,
    "q49_dedup_e2e" -> q49DedupE2e,
    "q50_token_hist" -> q50TokenHist,
    "q51_lang_weights" -> q51LangWeights,
    "q52_incremental_dedup" -> q52IncrementalDedup,
    "q53_repetition" -> q53Repetition,
    "q54_mix_report" -> q54MixReport,
    "q55_cell_purity" -> q55CellPurity,
    "q56_tumbling" -> q56Tumbling,
    "q57_frame_sample" -> q57FrameSample,
    "q58_quantile_sketch" -> q58QuantileSketch,
    "q59_bloom_incremental" -> q59BloomIncremental,
    "q60_streaming_daily" -> q60StreamingDaily,
    "q61_quantized_ann" -> q61QuantizedAnn,
    "q62_streaming_dedup" -> q62StreamingDedup,
    "q63_streaming_contamination" -> q63StreamingContamination,
    "q64_streaming_ewma" -> q64StreamingEwma,
    "q65_corpus_diff" -> q65CorpusDiff,
    "q66_orc_roundtrip" -> q66OrcRoundtrip,
    "q67_csv_roundtrip" -> q67CsvRoundtrip,
    "q68_sliding_windows" -> q68SlidingWindows,
    "q69_streaming_sessionize" -> q69StreamingSessionize,
    "q70_heavy_hitters" -> q70HeavyHitters,
    "q71_merge_upsert" -> q71MergeUpsert,
    "q72_zorder_cluster" -> q72ZorderCluster,
    "q73_bucketed_join" -> q73BucketedJoin,
    "q74_dpp" -> q74Dpp,
    "q75_bm25_retrieval" -> q75Bm25Retrieval,
    "q76_fuzzy_join" -> q76FuzzyJoin,
    "q77_incremental_agg" -> q77IncrementalAgg,
    "q78_incremental_hll" -> q78IncrementalHll,
    "q79_bm25_multiterm" -> q79Bm25Multiterm,
    "q80_streaming_join" -> q80StreamingJoin,
    "q81_compaction" -> q81Compaction,
    "q82_quality_cascade" -> q82QualityCascade,
    "q83_chunking" -> q83Chunking,
    "q84_packing" -> q84Packing,
    "q85_incremental_neardup" -> q85IncrementalNearDup,
    "q86_imageio_roundtrip" -> q86ImageioRoundtrip,
    "q87_wav_roundtrip" -> q87WavRoundtrip,
    "q88_textnorm_dedup" -> q88TextnormDedup,
    "q89_line_dedup" -> q89LineDedup,
    "q90_split_leakage" -> q90SplitLeakage,
    "q91_streaming_neardup" -> q91StreamingNearDup,
    "q92_url_canonical" -> q92UrlCanonical,
    "q93_bigram_rarity" -> q93BigramRarity,
    "q94_hard_negatives" -> q94HardNegatives,
    "q95_cluster_split" -> q95ClusterSplit,
    "q96_script_profile" -> q96ScriptProfile,
    "q97_countmin" -> q97CountMin,
    "q98_pagerank" -> q98PageRank,
    "q99_bpe_train" -> q99BpeTrain,
    "q100_export_e2e" -> q100ExportE2e,
    "q101_cdc_chunking" -> q101CdcChunking,
    "q102_bpe_vocab" -> q102BpeVocab,
    "q103_kmv_distinct" -> q103KmvDistinct,
    "q104_ivf_index" -> q104IvfIndex,
    "q105_incremental_components" -> q105IncrementalComponents,
    "q106_streaming_heavyhitters" -> q106StreamingHeavyHitters,
    "q107_random_projection" -> q107RandomProjection,
    "q108_schema_evolution" -> q108SchemaEvolution,
    "q109_streaming_cdc" -> q109StreamingCdc,
    "q110_grouped_sample" -> q110GroupedSample,
    "q111_adaptive_length_filter" -> q111AdaptiveLengthFilter,
    "q112_perceptual_neardup" -> q112PerceptualNearDup,
    "q113_psl_domain" -> q113PslDomain,
    "q114_perplexity_filter" -> q114PerplexityFilter,
    "q115_streaming_perplexity" -> q115StreamingPerplexity,
    "q116_weighted_sample" -> q116WeightedSample,
    "q117_video_neardup" -> q117VideoNearDup,
    "q118_dsir_select" -> q118DsirSelect,
    "q119_hybrid_rrf" -> q119HybridRrf,
    "q120_trigram_perplexity" -> q120TrigramPerplexity,
    "q121_streaming_dsir" -> q121StreamingDsir,
    "q122_temperature_mix" -> q122TemperatureMix,
    "q123_wordpiece_vocab" -> q123WordpieceVocab,
    "q124_dup_profile" -> q124DupProfile,
    "q125_drift_report" -> q125DriftReport,
    "q126_classifier_eval" -> q126ClassifierEval,
    "q127_audio_neardup" -> q127AudioNearDup,
    "q128_quality_survivors" -> q128QualitySurvivors,
    "q129_dup_window_ratio" -> q129DupWindowRatio,
    "q130_corpus_overlap" -> q130CorpusOverlap,
    "q131_triangles" -> q131Triangles,
    "q132_ann_recall" -> q132AnnRecall,
    "q133_lsh_tuning" -> q133LshTuning,
    "q134_ensemble_dedup" -> q134EnsembleDedup,
    "q135_export_manifest" -> q135ExportManifest,
    "q136_bootstrap_ci" -> q136BootstrapCi,
    "q137_cluster_folds" -> q137ClusterFolds,
    "q138_snapshot_diff" -> q138SnapshotDiff,
    "q139_zipf_fit" -> q139ZipfFit,
    "q140_orc_pruned_scan" -> q140OrcPrunedScan,
    "q141_unigram_train" -> q141UnigramTrain,
    "q142_token_entropy" -> q142TokenEntropy,
    "q143_pmi_collocations" -> q143PmiCollocations,
    "q144_unigram_segment" -> q144UnigramSegment,
    "q145_skew_report" -> q145SkewReport,
    "q146_exact_substr" -> q146ExactSubstr,
    "q147_semantic_contamination" -> q147SemanticContamination,
    "q148_incremental_exact_substr" -> q148IncrementalExactSubstr,
    "q149_streaming_semantic_contamination" -> q149StreamingSemanticContamination,
    "q150_kneser_ney_perplexity" -> q150KneserNeyPerplexity,
    "q151_budget_select" -> q151BudgetSelect,
    "q152_unigram_prune" -> q152UnigramPrune,
    "q153_containment_dedup" -> q153ContainmentDedup,
    "q154_source_report" -> q154SourceReport,
    "q155_pii_redact" -> q155PiiRedact,
    "q156_streaming_pii_redact" -> q156StreamingPiiRedact,
    "q157_html_normalize" -> q157HtmlNormalize,
    "q158_corpus_shuffle" -> q158CorpusShuffle,
    "q159_eval_novelty" -> q159EvalNovelty,
    "q160_blocklist_filter" -> q160BlocklistFilter,
    "q161_tfidf_keywords" -> q161TfidfKeywords,
    "q162_streaming_cascade" -> q162StreamingCascade,
    "q163_embedding_spectrum" -> q163EmbeddingSpectrum,
    "q164_phrase_scan" -> q164PhraseScan,
    "q165_remove_top" -> q165RemoveTop,
    "q166_token_subsample" -> q166TokenSubsample,
    "q167_ccnet_buckets" -> q167CcnetBuckets,
    "q168_streaming_blocklist" -> q168StreamingBlocklist,
    "q169_bbit_minhash" -> q169BbitMinhash,
    "q170_boilerplate_strip" -> q170BoilerplateStrip,
    "q171_luhn_redact" -> q171LuhnRedact,
    "q172_streaming_subsample" -> q172StreamingSubsample,
    "q173_tokenizer_fertility" -> q173TokenizerFertility,
    "q174_good_turing" -> q174GoodTuring,
    "q175_streaming_phrase_scan" -> q175StreamingPhraseScan,
    "q176_quality_lr" -> q176QualityLr,
    "q177_streaming_lr_score" -> q177StreamingLrScore,
    "q178_streaming_drift" -> q178StreamingDriftMonitor,
    "q179_incremental_boilerplate" -> q179IncrementalBoilerplate,
    "q180_negative_sampling" -> q180NegativeSampling,
    "q181_skipgram_pairs" -> q181SkipgramPairs,
    "q182_heaps_fit" -> q182HeapsFit,
    "q183_lr_calibration" -> q183LrCalibration,
    "q184_streaming_luhn" -> q184StreamingLuhn,
    "q185_source_overlap" -> q185SourceOverlap,
    "q186_lang_segments" -> q186LangSegments,
    "q187_langid_nb" -> q187LangidNb,
    "q188_avro_roundtrip" -> q188AvroRoundtrip,
    "q189_pq_ann" -> q189PqAnn,
    "q190_pq_recall" -> q190PqRecall,
    "q191_lang_segments_nb" -> q191LangSegmentsNb,
    "q192_spectrum_power" -> q192SpectrumPower,
    "q193_byte_bpe_train" -> q193ByteBpeTrain,
    "q194_byte_bpe_segment" -> q194ByteBpeSegment,
    "q195_streaming_langid" -> q195StreamingLangid,
    "q196_pq_ivf_recall" -> q196PqIvfRecall,
    "q197_avro_evolution" -> q197AvroEvolution,
    "q198_gopher_repetition" -> q198GopherRepetition,
    "q199_streaming_repetition" -> q199StreamingRepetition,
    "q200_pq_stored_index" -> q200PqStoredIndex,
    "q201_ivfpq_stored_index" -> q201IvfPqStoredIndex,
    "q202_streaming_ann_serve" -> q202StreamingAnnServe,
    "q203_gopher_quality" -> q203GopherQuality,
    "q204_streaming_gopher_quality" -> q204StreamingGopherQuality,
    "q205_capped_repetition" -> q205CappedRepetition,
    "q206_trained_ivfpq" -> q206TrainedIvfPq,
    "q207_ivfpq_append" -> q207IvfPqAppend,
    "q208_streaming_ivfpq_serve" -> q208StreamingIvfPqServe,
    "q209_main_content" -> q209MainContent,
    "q210_main_content_blocks" -> q210MainContentBlocks,
    "q211_streaming_main_content" -> q211StreamingMainContent,
    "q212_trained_ivfpq_stored" -> q212TrainedIvfPqStored,
    "q213_web_pipeline" -> q213WebPipeline,
    "q214_quantile_sketch" -> q214QuantileSketch,
    "q215_c4_filter" -> q215C4Filter,
    "q216_streaming_c4_filter" -> q216StreamingC4Filter,
    "q217_full_repetition" -> q217FullRepetition,
    "q218_streaming_web_pipeline" -> q218StreamingWebPipeline,
    "q219_stored_bm25_index" -> q219StoredBm25Index,
    "q220_bm25_index_append" -> q220Bm25IndexAppend,
    "q221_ivfpq_probe_sweep" -> q221IvfPqProbeSweep,
    "q222_streaming_full_repetition" -> q222StreamingFullRepetition,
    "q223_bm25_batch_serve" -> q223Bm25BatchServe,
    "q224_streaming_bm25_serve" -> q224StreamingBm25Serve,
    "q225_phrase_from_index" -> q225PhraseFromIndex,
    "q226_bm25_index_compact" -> q226Bm25IndexCompact,
    "q227_vocab_from_index" -> q227VocabFromIndex,
    "q228_ql_from_index" -> q228QlFromIndex,
    "q229_proximity_from_index" -> q229ProximityFromIndex,
    "q230_hybrid_from_indexes" -> q230HybridFromIndexes,
    "q231_bm25_index_reingest" -> q231Bm25IndexReingest,
    "q232_positional_index_append" -> q232PositionalIndexAppend,
    "q233_positional_index_compact" -> q233PositionalIndexCompact,
    "q234_hybrid_live_indexes" -> q234HybridLiveIndexes,
    "q235_streaming_superseded_serve" -> q235StreamingSupersededServe,
    "q236_ivfpq_index_compact" -> q236IvfPqIndexCompact,
    "q237_streaming_index_ingest" -> q237StreamingIndexIngest,
    "q238_streaming_ann_ingest" -> q238StreamingAnnIngest,
    "q239_index_delete" -> q239IndexDelete,
    "q240_positional_delete" -> q240PositionalDelete,
    "q241_ann_delete" -> q241AnnDelete,
    "q242_time_travel_serve" -> q242TimeTravelServe,
    "q243_index_history" -> q243IndexHistory,
    "q244_positional_time_travel" -> q244PositionalTimeTravel,
    "q245_ann_time_travel" -> q245AnnTimeTravel,
    "q246_ann_index_history" -> q246AnnIndexHistory,
    "q247_index_health" -> q247IndexHealth,
    "q248_positional_index_history" -> q248PositionalIndexHistory,
    "q249_compaction_lineage" -> q249CompactionLineage,
    "q250_retention_time_travel" -> q250RetentionTimeTravel,
    "q251_ann_index_health" -> q251AnnIndexHealth,
    "q252_pointer_flip" -> q252PointerFlip,
    "q253_hybrid_time_travel" -> q253HybridTimeTravel,
    "q254_streaming_time_travel_serve" -> q254StreamingTimeTravelServe,
  )
}
