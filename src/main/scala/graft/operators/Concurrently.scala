package graft.operators

import org.apache.spark.sql.SparkSession

/** The one runner for INDEPENDENT Spark actions (staging writes under
  * one atomic commit, disjoint store appends, the webhook pipeline's
  * per-table commits, per-entity backfill scans, per-subspace trainings):
  * `run(tasks, width)` returns the tasks' results in task order.
  *
  * Width: the pool holds `min(width, tasks.size)` threads, so at most
  * `width` tasks run at once; the default runs every task at once. With
  * one task, or at width 1, every task runs INLINE on the caller's
  * thread, in order — no pool, no job tag, and the first failure
  * propagates as thrown.
  *
  * Failure: tasks are awaited in completion order, so a failure is seen
  * while its siblings still run, not after the ones submitted before it
  * end. It cancels the siblings and DRAINS the pool before rethrowing —
  * so no write is still in flight against the caller's directories when
  * the error propagates (a streaming retry of the batch must never race
  * a half-dead predecessor). The ORIGINAL cause is rethrown, not the
  * pool's ExecutionException wrapper, so callers and retry logic see the
  * same exception types at every width.
  *
  * Interrupting a pool thread does not stop the Spark job it submitted,
  * so every task's jobs carry one job tag per run, with
  * interrupt-on-cancel: a failure cancels the tagged jobs before the
  * drain, and once more after it for a job submitted in between. Tags,
  * not a job group: the pool threads inherit the caller's local
  * properties, and a `foreachBatch` thread's job group is Structured
  * Streaming's — replacing it would stop `query.stop()` from cancelling
  * the run's jobs. */
private[graft] object Concurrently {

  def run[A](tasks: Seq[() => A], width: Int = Int.MaxValue): Seq[A] = {
    val threads = math.min(width, tasks.size)
    if (threads <= 1) return tasks.map(_.apply())
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val tag = s"graft-concurrently-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val done = new java.util.concurrent.ExecutorCompletionService[A](pool)
      val futures = tasks.map { t =>
        done.submit(new java.util.concurrent.Callable[A] {
          def call(): A = {
            sc.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }
            t()
          }
        })
      }
      try futures.foreach(_ => done.take().get())
      catch { case t: Throwable =>
        sc.foreach(_.cancelJobsWithTag(tag))
        futures.foreach(_.cancel(true))
        pool.shutdown()
        pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
        sc.foreach(_.cancelJobsWithTag(tag))
        throw (t match {
          case e: java.util.concurrent.ExecutionException
            if e.getCause != null => e.getCause
          case other => other
        })
      }
      futures.map(_.get())
    } finally pool.shutdown()
  }
}
