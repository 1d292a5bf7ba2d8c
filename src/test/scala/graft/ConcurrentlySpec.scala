package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.operators.Concurrently

/** The shared concurrent runner: results in task order, at most `width`
  * tasks at once, inline at width 1, and a failed task stops its
  * siblings' Spark jobs, not just their pool threads. */
class ConcurrentlySpec extends SparkSpec {

  test("results come back in task order when tasks finish in reverse order") {
    // task i may finish only after task i+1 has: the last task ends first
    val finished = (0 to 4).map(_ => new CountDownLatch(1))
    finished(4).countDown()
    val order = new ConcurrentLinkedQueue[Int]()
    val out = Concurrently.run((0 until 4).map { i =>
      () => {
        if (!finished(i + 1).await(30, TimeUnit.SECONDS))
          throw new AssertionError(s"task ${i + 1} never finished")
        order.add(i); finished(i).countDown(); i * 10
      }
    })
    assert(order.asScala.toSeq == Seq(3, 2, 1, 0))
    assert(out == Seq(0, 10, 20, 30))
  }

  test("a width-2 run never has more than 2 tasks running at once") {
    // each task waits (bounded) for all four to be running: an unbounded
    // pool reaches 4 at once, a width-2 one holds two for the timeout
    val running = new AtomicInteger(); val peak = new AtomicInteger()
    val arrived = new CountDownLatch(4)
    val out = Concurrently.run((0 until 4).map { i =>
      () => {
        peak.accumulateAndGet(running.incrementAndGet(), math.max)
        arrived.countDown()
        arrived.await(1, TimeUnit.SECONDS)
        running.decrementAndGet(); i
      }
    }, width = 2)
    assert(out == Seq(0, 1, 2, 3))
    assert(peak.get == 2, s"peak ${peak.get} tasks ran at once")
  }

  test("at width 1 every task runs inline on the caller's thread, in order") {
    val caller = Thread.currentThread()
    val seen = new ConcurrentLinkedQueue[(Int, Thread)]()
    val out = Concurrently.run((0 until 4).map { i =>
      () => { seen.add(i -> Thread.currentThread()); i }
    }, width = 1)
    assert(out == Seq(0, 1, 2, 3))
    assert(seen.asScala.toSeq == (0 until 4).map(_ -> caller))
  }

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
          },
          () => ()), // queued behind the width until a slot frees
          width = 2)
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
