package graft.operators

import org.apache.spark.sql.SparkSession

/** Shared runner for INDEPENDENT side-effecting Spark actions (staging
  * writes under one atomic commit, disjoint store appends, the webhook
  * pipeline's per-table commits): submit on a fresh pool sized to the
  * task count, await all, and on any failure cancel the siblings and
  * DRAIN the pool before rethrowing — so no write is still in flight
  * against the caller's directories when the error propagates (a
  * streaming retry of the batch must never race a half-dead
  * predecessor). Tasks are awaited in completion order, so a failure
  * cancels its siblings as soon as it happens. The ORIGINAL cause is
  * rethrown, not the pool's ExecutionException wrapper, so callers and
  * retry logic keep seeing the same exception types the old sequential
  * writes threw.
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

  def run(tasks: Seq[() => Unit]): Unit = {
    if (tasks.isEmpty) return
    if (tasks.sizeIs == 1) { tasks.head.apply(); return }
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val tag = s"graft-concurrently-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val done = new java.util.concurrent.ExecutorCompletionService[Unit](pool)
      val futures = tasks.map { t =>
        done.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            sc.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }
            t()
          }
        })
      }
      // in completion order: the first failure is seen while its
      // siblings still run, not after the ones submitted before it end
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
    } finally pool.shutdown()
  }
}
