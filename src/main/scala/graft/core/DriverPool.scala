package graft.core

/** Driver-side overlap of independent Spark job chains (guide §2.6):
  * a sequential chain of blocking collects leaves the scheduler idle
  * while each one waits on its slowest task, so operators that need
  * several INDEPENDENT model-sized results submit them from a small
  * bounded pool instead.
  */
object DriverPool {

  /** Run `thunks` concurrently on a pool of min(n, 4) driver threads
    * and return their results in order. Each thunk must be
    * independent of the others (its own input, its own
    * persist/unpersist lifecycle), so concurrency changes wall-clock
    * shape only, never a value. If one thunk fails, the pool is
    * shut down NOW — interrupting the siblings instead of letting
    * them keep submitting Spark jobs while the failure propagates
    * (ADVICE r21) — and the failure is rethrown.
    */
  def collectConcurrently[A](thunks: (() => A)*): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thunks.size, 4))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(thunks.map(t =>
          scala.concurrent.Future(t()))),
        scala.concurrent.duration.Duration.Inf)
    } catch { case e: Throwable => pool.shutdownNow(); throw e
    } finally { pool.shutdown(); () }
  }
}
