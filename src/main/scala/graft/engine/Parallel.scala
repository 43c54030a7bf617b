package graft.engine

/** Overlap INDEPENDENT driver-side Spark actions (guide §2.6: the
  * scheduler happily runs several jobs at once inside one
  * application; actions are only sequential because driver code
  * calls them sequentially). Used where an operator issues two or
  * more actions with no data dependency — e.g. the span-index build
  * and the IVF build of the composed ingest gate, or the two index
  * appends of one admitted batch — so the second job's tasks
  * back-fill executors freed by the first job's tail instead of
  * waiting for its last straggler plus a full job-overhead round.
  *
  * Semantics-preserving by construction: callers may only pass
  * actions whose outputs are disjoint (different directories,
  * different tables) and whose inputs are already materialized or
  * independently derivable. Failures propagate: the first thrown
  * exception is rethrown (unwrapped) after all tasks settle, so a
  * crash mid-parallel-build leaves the same converging retry state
  * as the sequential order it replaces.
  *
  * Interrupt-safe: if the calling thread is interrupted while it
  * waits, every task is cancelled (its thread interrupted) and
  * `run` still waits until every task has stopped before it
  * rethrows the InterruptedException with the caller's interrupt
  * flag restored. No task outlives the call, so a caller's
  * `finally` (e.g. a scratch-dir delete) never races a live writer.
  */
object Parallel {
  def run(tasks: (() => Unit)*): Unit = {
    if (tasks.lengthCompare(1) <= 0) { tasks.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.length)
    val futs = tasks.map { t =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = t()
      })
    }
    pool.shutdown()
    var firstFailure: Throwable = null
    try futs.foreach { f =>
      try f.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          if (firstFailure == null)
            firstFailure = Option(e.getCause).getOrElse(e)
      }
    } catch {
      case e: InterruptedException =>
        futs.foreach(_.cancel(true))
        awaitUninterruptibly(pool)
        Thread.currentThread().interrupt()
        throw e
    }
    if (firstFailure != null) throw firstFailure
  }

  /** Wait for a shut-down pool's threads to finish, deferring (not
    * dropping) any interrupt that arrives meanwhile.
    */
  private def awaitUninterruptibly(
      pool: java.util.concurrent.ExecutorService): Unit = {
    var done = false
    while (!done) {
      try done = pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
      catch { case _: InterruptedException => }
    }
  }
}
