package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry of the DataFrames graft operators persist.
  *
  * Several operators ([[graft.operators.Similarity]],
  * [[graft.operators.NearDup]], [[graft.operators.DiaryPipeline]],
  * [[graft.sources.DelimitedSource.quarantine]]) cache an intermediate
  * frame that feeds multiple consumers of one returned LAZY plan. The
  * operator cannot unpersist it — the final action happens at the
  * caller, and an eager unpersist would silently recompute the shared
  * subtree (the exact cost the persist exists to kill). Before this
  * registry the contract was "call `spark.catalog.clearCache()`
  * between pipelines", which nukes every cache in the session
  * including the caller's own.
  *
  * Operators now persist through [[persist]] (or the
  * [[TrackedPersist.persistTracked]] syntax), and a long-lived session
  * calls [[release]] once each operator result is materialized —
  * freeing exactly the operator-internal blocks, nothing else. The
  * bench does this between queries; leaving blocks registered is
  * still safe (MEMORY_AND_DISK spills rather than OOMs and LRU
  * eviction reclaims memory) but fills disk eventually.
  *
  * INTERLEAVED CALLS: the global [[release]] drops EVERY registered
  * frame — with two in-flight operator results, releasing after the
  * first materializes would un-persist the intermediates backing the
  * second (correct, but it recomputes). Callers interleaving operator
  * lifetimes wrap each call in [[scoped]], which tags the frames that
  * call persists and returns a [[Scope]] releasable independently:
  *
  * {{{
  * val (dedup, s1) = OpCache.scoped(NearDup.nearDupPairs(docs, "doc_id", "text", 0.5))
  * val (ann, s2)   = OpCache.scoped(Similarity.ivfTopKSeeded(q, corpus, seeds, "id", "v", 5, 4))
  * dedup.write.parquet(out); s1.release()   // ann's blocks untouched
  * }}}
  *
  * Registry entries are identity-keyed (Dataset does not override
  * equals), so re-registering the same logical plan from two calls
  * tracks both frames — release unpersists each exactly once.
  */
object OpCache {
  private val registry = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[DataFrame, java.lang.Boolean]())
  private val rddRegistry = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[RDD[_], java.lang.Boolean]())

  /** A per-call release handle: frames persisted inside [[scoped]]'s
    * thunk land here as well as in the global registry. [[release]]
    * frees only this scope's frames; the global [[OpCache.release]]
    * still covers them (pipeline-boundary cleanup stays one call).
    */
  final class Scope private[OpCache] () {
    private[OpCache] val frames = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[DataFrame, java.lang.Boolean]())
    private[OpCache] val rdds = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[RDD[_], java.lang.Boolean]())

    /** Unpersist exactly the frames (and checkpoint RDDs) persisted
      * under this scope. */
    def release(blocking: Boolean = false): Unit = {
      val it = frames.iterator()
      while (it.hasNext) {
        val df = it.next()
        try df.unpersist(blocking) catch { case _: Throwable => () }
        registry.remove(df)
        it.remove()
      }
      val rit = rdds.iterator()
      while (rit.hasNext) {
        val r = rit.next()
        freeRdd(r, blocking)
        rddRegistry.remove(r)
        rit.remove()
      }
    }

    /** Frames currently tracked by this scope (diagnostics/specs). */
    def registered: Int = frames.size

    /** Checkpoint RDDs currently tracked by this scope. */
    def registeredRdds: Int = rdds.size
  }

  private val currentScope = new ThreadLocal[Scope]

  /** Run `body` (typically one operator call: plan construction is
    * where operators persist) with its tracked persists ALSO tagged to
    * a fresh [[Scope]], returned alongside the result for independent
    * release. Scopes nest per thread (inner scope wins); frames
    * persisted on OTHER threads (e.g. inside an eager job) stay
    * global-only — operators persist during plan construction on the
    * calling thread, so the tag covers the operator surface.
    */
  def scoped[A](body: => A): (A, Scope) = {
    val scope = new Scope
    val prev = currentScope.get
    currentScope.set(scope)
    try (body, scope) finally currentScope.set(prev)
  }

  /** Persist MEMORY_AND_DISK and remember the frame for [[release]]. */
  def persist(df: DataFrame): DataFrame = {
    // sweep entries whose blocks were freed behind our back (a session
    // keeping the old spark.catalog.clearCache() habit) — otherwise the
    // registry pins their analyzed plan trees on the driver forever
    registry.removeIf(_.storageLevel == StorageLevel.NONE)
    df.persist(StorageLevel.MEMORY_AND_DISK)
    registry.add(df)
    val scope = currentScope.get
    if (scope != null) scope.frames.add(df)
    df
  }

  /** Unpersist every registered frame and forget them. `blocking =
    * true` waits for the blocks to actually drop (deterministic for
    * tests); the default returns immediately.
    *
    * Entries are removed ONE BY ONE as they are unpersisted (not a
    * blanket clear after the loop): a frame registered concurrently —
    * between the iteration snapshot and a trailing clear() — would be
    * forgotten while still persisted, resurrecting the exact leak this
    * registry exists to kill. The CHM-backed iterator is weakly
    * consistent, so a concurrent registration is either released now
    * or stays registered for the next release; never dropped silently.
    *
    * Release is SESSION-GLOBAL: it unpersists every operator's
    * intermediates. Call it at pipeline boundaries, not mid-flight;
    * interleaved operator lifetimes use [[scoped]] instead.
    */
  def release(blocking: Boolean = false): Unit = {
    val it = registry.iterator()
    while (it.hasNext) {
      try it.next().unpersist(blocking) catch { case _: Throwable => () }
      it.remove()
    }
    val rit = rddRegistry.iterator()
    while (rit.hasNext) {
      freeRdd(rit.next(), blocking)
      rit.remove()
    }
  }

  /** One iterative operator call's checkpoint lifecycle (the
    * connected-components family, PageRank, the BPE and Unigram
    * trainers, the distributed spectrum fit). Open one per call with
    * [[checkpoints]]; [[Checkpoints.cut]] or [[Checkpoints.cutEager]]
    * each lineage break, [[Checkpoints.settle]] once an action has
    * materialized the newest cut, then end with [[Checkpoints.keep]]
    * (the result reads the surviving cut) or [[Checkpoints.free]]
    * (driver-value results and throw paths).
    *
    * Why the discipline exists: a checkpoint's blocks are
    * lineage-truncated, so Spark's storage layer can NEVER evict them
    * on its own, and `Dataset.unpersist` only touches CacheManager
    * entries. Without the per-round free, every round of every call
    * pins |state|-sized blocks until the session dies, which exhausts
    * storage memory in a long-lived session (the round-11 leak).
    *
    * Reliable ⇒ eager: when the session has a checkpoint dir
    * (`spark.checkpoint.dir` or `setCheckpointDir`) every cut is a
    * reliable, eager `checkpoint(true)`, whose files survive executor
    * loss — a lazy reliable checkpoint would recompute the frame when
    * its files are written after the first action. Without one, `cut`
    * is a LAZY local checkpoint (the next action materializes it: one
    * job per round, not two) and `cutEager` an eager one. This is the
    * rule Spark's own `PeriodicCheckpointer` follows.
    */
  final class Checkpoints private[OpCache] (spark: SparkSession) {
    private val reliable = spark.sparkContext.getCheckpointDir.isDefined
    // backing RDDs of the cuts still alive, oldest first
    private val live = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]

    private def take(df: DataFrame, eager: Boolean): DataFrame = {
      val out = if (reliable) df.checkpoint(true) else df.localCheckpoint(eager)
      live += checkpointRdd(out)
      out
    }

    /** Truncate `df`'s lineage; lazy unless reliable. */
    def cut(df: DataFrame): DataFrame = take(df, eager = false)

    /** Truncate `df`'s lineage and materialize it now. */
    def cutEager(df: DataFrame): DataFrame = take(df, eager = true)

    /** Free every cut older than the newest. Call only after an action
      * has materialized the newest cut: until then its plan still
      * reads its predecessor's blocks. */
    def settle(): Unit = while (live.size > 1) freeRdd(live.remove(0))

    /** Hand the surviving cuts to the session registry: the caller's
      * pipeline-boundary [[release]] frees them (after which any frame
      * reading them is dead — checkpoints cannot recompute). */
    def keep(): Unit = { live.foreach(registerRdd); live.clear() }

    /** Free every cut now. */
    def free(): Unit = { live.foreach(freeRdd(_)); live.clear() }
  }

  /** A fresh [[Checkpoints]] handle for one operator call on `spark`. */
  def checkpoints(spark: SparkSession): Checkpoints = new Checkpoints(spark)

  /** Register ALREADY-materialized blocks that no `Dataset.persist`
    * owns — the RDD backing a result's checkpoint
    * ([[Checkpoints.keep]]) — so [[release]] frees them alongside the
    * persisted frames.
    *
    * UNLIKE a persisted frame, a released checkpoint CANNOT recompute:
    * its lineage is truncated to a scan of the very blocks/files being
    * dropped, so any DataFrame reading it is DEAD after release.
    * Callers materialize or write the result BEFORE releasing — the
    * same pipeline-boundary discipline the frame registry already
    * requires, minus the recompute safety net.
    */
  private def registerRdd(rdd: RDD[_]): Unit = {
    rddRegistry.removeIf(r =>
      r.getStorageLevel == StorageLevel.NONE && r.getCheckpointFile.isEmpty)
    rddRegistry.add(rdd)
    val scope = currentScope.get
    if (scope != null) scope.rdds.add(rdd)
  }

  /** The RDD backing a frame that was JUST checkpointed: the analyzed
    * plan of `df.checkpoint(true)` / `df.localCheckpoint(_)` is a
    * `LogicalRDD` scan over exactly the checkpointed blocks — that
    * RDD, not `queryExecution.toRdd` (a fresh MapPartitionsRDD over
    * it), is what [[freeRdd]] must target.
    *
    * The match is a reflection-based class-name probe (LogicalRDD is
    * `private[sql]`), so it THROWS when no LogicalRDD is found: on a
    * just-checkpointed frame that can only mean a Spark-internal
    * rename, and failing loud here beats silently degrading the
    * per-round checkpoint-freeing discipline back into the block leak
    * it exists to kill.
    */
  private def checkpointRdd(df: DataFrame): RDD[_] =
    df.queryExecution.analyzed.collect {
      case p if p.getClass.getName == "org.apache.spark.sql.execution.LogicalRDD" =>
        p.getClass.getMethod("rdd").invoke(p).asInstanceOf[RDD[_]]
    }.headOption.getOrElse(throw new IllegalStateException(
      "OpCache.checkpointRdd: no LogicalRDD in the analyzed plan of a frame that " +
        "was just checkpointed — Spark internals renamed? Without it the " +
        "checkpoint-freeing discipline silently leaks every round's blocks."))

  /** Free one checkpoint-backing RDD now: drop its storage blocks and,
    * for reliable checkpoints, delete the checkpoint files. The RDD
    * (and any frame scanning it) is unusable afterwards.
    */
  private def freeRdd(rdd: RDD[_], blocking: Boolean = false): Unit = {
    try rdd.unpersist(blocking) catch { case _: Throwable => () }
    try rdd.getCheckpointFile.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
    } catch { case _: Throwable => () }
  }

  /** Number of currently registered frames (diagnostics/specs). */
  def registered: Int = registry.size

  /** Number of currently registered checkpoint RDDs. */
  def registeredRdds: Int = rddRegistry.size

  implicit class TrackedPersist(private val df: DataFrame) extends AnyVal {
    def persistTracked: DataFrame = OpCache.persist(df)
  }
}
