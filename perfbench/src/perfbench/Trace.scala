package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** In-memory spans plus Spark job accounting for the traced pass.
  *
  * A span is opened by the benchmark around each call into a layer; its
  * id rides on the Spark local property [[SpanProp]], which the
  * pipeline's pool threads inherit, so every job is keyed to the span
  * that was open when it was submitted even if its end event reaches
  * the listener after the span closed. `SparkContext.listenerBus` is
  * private, so [[drain]] waits for a sentinel job to pass through the
  * listener instead of draining the bus.
  *
  * Each job is also given a layer from its call-site source file — the
  * engine file whose frame started the job's SQL execution or, outside
  * SQL, submitted the job — falling back to the layer of its span. */
final class Trace(sc: SparkContext, runId: String) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val starts = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  @volatile private var sentinel: CountDownLatch = _

  private val execSites = new ConcurrentHashMap[Long, String]()

  private val listener = new SparkListener {
    // SQL query stages run on Spark's own threads, so their jobs' call
    // sites name no engine frame; the SQL execution that owns them
    // carries the call site of the action that started it
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execSites.put(s.executionId, s.description)
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val span = prop(SpanProp).map(_.toLong).getOrElse(0L)
      val site = prop("spark.sql.execution.id").flatMap(id => Option(execSites.get(id.toLong)))
        .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("")
      val j = new Job(e.jobId, span, site, e.time)
      starts.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        j.synchronized {
          j.tasks += 1
          if (m != null) {
            j.runMs += m.executorRunTime
            j.inBytes += m.inputMetrics.bytesRead
            j.outBytes += m.outputMetrics.bytesWritten
            j.outRecords += m.outputMetrics.recordsWritten
            if (m.outputMetrics.bytesWritten > 0) j.outFiles += 1
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.diskBytesSpilled
          }
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(starts.remove(e.jobId)).foreach { j =>
        j.endMs = e.time
        if (j.span == SentinelSpan) Option(sentinel).foreach(_.countDown())
        else jobs.add(j)
      }
  }

  def start(): Unit = sc.addSparkListener(listener)

  /** Wait until every job submitted so far has reached the listener. */
  def drain(): Unit = {
    sentinel = new CountDownLatch(1)
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, SentinelSpan.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanProp, prev)
    if (!sentinel.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener did not drain within 60 s")
  }

  def stop(): Unit = sc.removeSparkListener(listener)

  /** Run `body` inside a span named `name` (a layer name, or
    * `layer:detail`). */
  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.size + 1L, name, open.headOption.map(_.id).getOrElse(0L),
      System.nanoTime(), 0L)
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
    }
  }

  def allSpans: Seq[Span] = spans.toSeq
  def allJobs: Seq[Job] = jobs.asScala.toSeq.sortBy(_.id)

  private lazy val spanById = spans.map(s => s.id -> s).toMap

  /** The outermost span enclosing span `id` (0 if none). */
  def rootOf(id: Long): Span = {
    var s = spanById.get(id).orNull
    while (s != null && s.parent != 0L) s = spanById(s.parent)
    s
  }

  /** Layer of a job: the engine file that submitted it, else its span's. */
  def layerOf(j: Job): String =
    SiteLayers.collectFirst { case (file, layer) if j.site.contains(" at " + file + ":") => layer }
      .getOrElse(Option(rootOf(j.span)).map(_.name.takeWhile(_ != ':')).getOrElse("other"))

  /** Spans and jobs as JSON lines, for writing out when the run ends. */
  def lines: Seq[String] = spans.toSeq.map { s =>
    s"""{"run":"$runId","span":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  } ++ allJobs.map { j =>
    s"""{"run":"$runId","job":${j.id},"span":${j.span},"layer":"${layerOf(j)}",""" +
      s""""site":"${j.site.replace("\"", "'")}","start_ms":${j.startMs},"end_ms":${j.endMs},""" +
      s""""tasks":${j.tasks},"run_ms":${j.runMs},"in_bytes":${j.inBytes},""" +
      s""""out_bytes":${j.outBytes},"out_records":${j.outRecords},"out_files":${j.outFiles}}"""
  }
}

object Trace {
  val SpanProp = "perfbench.span"
  val SentinelSpan = -1L

  final case class Span(id: Long, name: String, parent: Long, startNs: Long, var endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final class Job(val id: Int, val span: Long, val site: String, val startMs: Long) {
    var endMs = 0L
    var tasks = 0L
    var runMs = 0L
    var inBytes = 0L
    var outBytes = 0L
    var outRecords = 0L
    var outFiles = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    def seconds: Double = (endMs - startMs) / 1e3
  }

  /** Engine source file -> layer, for call-site attribution. */
  val SiteLayers: Seq[(String, String)] = Seq(
    "MergeSink.scala" -> "merge_sink", "MergeOps.scala" -> "merge_sink",
    "Stage.scala" -> "merge_sink",
    "WebhookPipeline.scala" -> "webhook_pipeline",
    "StripeEvents.scala" -> "stripe_events",
    "ReplayGuard.scala" -> "replay_guard",
    "Backfill.scala" -> "backfill", "TableDefs.scala" -> "table_defs",
    "Dashboard.scala" -> "read")
}
