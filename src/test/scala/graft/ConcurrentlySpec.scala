package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.operators.Concurrently

/** The shared concurrent runner's failure path: a failed task must
  * stop its siblings' Spark jobs, not just their pool threads. */
class ConcurrentlySpec extends SparkSpec {

  test("a failed run cancels its siblings' running Spark jobs before returning") {
    val sc = spark.sparkContext
    val started = new CountDownLatch(1)
    val ended = new ConcurrentHashMap[Int, SparkListenerJobEnd]()
    @volatile var siblingJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.job.description") == "sibling")) {
          siblingJob = e.jobId
          started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.put(e.jobId, e)
    }
    sc.addSparkListener(listener)
    try {
      val calledAt = System.currentTimeMillis()
      val err = intercept[IllegalStateException] {
        Concurrently.run(Seq(
          () => {
            sc.setJobDescription("sibling")
            sc.parallelize(Seq(1), 1).foreach(_ => Thread.sleep(60000))
          },
          () => {
            if (!started.await(60, TimeUnit.SECONDS))
              throw new AssertionError("sibling job never started")
            throw new IllegalStateException("boom")
          }))
      }
      val returnedAt = System.currentTimeMillis()
      assert(err.getMessage == "boom", "the original cause is rethrown")
      // the job-end event reaches the listener asynchronously; its time
      // is stamped by the scheduler when the job ends
      val deadline = returnedAt + 20000
      while (!ended.containsKey(siblingJob) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(ended.containsKey(siblingJob),
        "the sibling's Spark job was still running 20 s after run returned")
      val end = ended.get(siblingJob)
      // cancelled, not waited out: its one task sleeps 60 s
      assert(end.jobResult != JobSucceeded, "the sibling's job ran to completion")
      assert(returnedAt - calledAt < 30000,
        s"run took ${returnedAt - calledAt} ms: it waited for the sibling's job")
      // the scheduler stamps the end right after waking the sibling's
      // thread, so allow it a moment past the return
      assert(end.time <= returnedAt + 1000,
        s"the sibling's job ended ${end.time - returnedAt} ms after run returned")
    } finally sc.removeSparkListener(listener)
  }
}
