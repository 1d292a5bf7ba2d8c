package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.TableDef
import graft.operators.Backfill
import graft.sources.StripeEvents
import graft.streaming.{SyncConfig, WebhookPipeline}
import Main._

/** One benchmark workload. Work is done in units — a `steady` batch
  * followed by its dashboard read, or the `catchup` backlog followed by
  * its dashboard reads — each unit's engine calls timed from the
  * benchmark's side, and each optionally wrapped in trace spans. */
trait Workload {
  /** Set up into `dir`: inputs generated and written, business data and
    * the mirror's backfill, timed into `pass` and traced when `trace` is
    * given. Returns the seconds spent generating inputs. */
  def prepare(dir: String, pass: Pass, ledger: Ledger, trace: Option[Trace]): Double
  def inputsDigest: String
  /** Untimed work before measuring: the fresh JVM compiles the
    * workload's code paths and Spark its generated code, which the
    * measured units then reuse. */
  def warmUp(ledger: Ledger): Unit
  /** Units a measuring pass runs even if its time is up. */
  def minUnits: Int
  /** False once the generated inputs are used up. */
  def hasNext: Boolean
  def unit(pass: Pass, ledger: Ledger, trace: Option[Trace]): Unit
  /** Switch to the inputs reserved for the traced phase, so traced
    * units see the same inputs in every run with this seed. */
  def startTracedPhase(): Unit = ()
  /** Between the traced and the untraced unit: undo the traced unit, so
    * the untraced one applies the same inputs to the same state. */
  def rewind(): Unit = ()
  /** Separately timed calls of the envelope parser and the projection
    * on this run's inputs: (ms per 1000 deliveries parsed, ms per 1000
    * payloads projected). */
  def probes(): (Double, Double)
  /** Check the final mirror against the model. */
  def finish(ledger: Ledger): Unit
}

object Workloads {

  /** Rows per hot table in the `steady` mirror; deliveries per batch;
    * warm-up batches and dashboard sets, and measured batches per run.
    * Each measured batch is followed by one dashboard set. */
  val SteadyRows = 250
  val SteadyBatch = 500
  val SteadyWarmBatches = 3
  val SteadyWarmReads = 2
  val SteadyMinBatches = 3
  /** `catchup`: objects per core type the backfill serves, the backlog's
    * batches and deliveries per batch, dashboard reads in the warm-up and
    * timed reads after the measured backlog. */
  val CatchupRows = 250
  val CatchupBatches = 1
  val CatchupBatch = 2000
  val CatchupWarmReads = 3
  val CatchupReads = 6

  def apply(name: String, spark: SparkSession, seed: Long, seconds: Int): Option[Workload] =
    name match {
      case "steady" => Some(new Steady(spark, seed, seconds))
      case "catchup" => Some(new Catchup(spark, seed))
      case _ => None
    }

  /** Write each batch as `parts` text files, the shape a file-drop
    * webhook source delivers; returns one directory per batch. */
  def writeBatches(dir: String, batches: Seq[Seq[Gen.Delivery]], parts: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    batches.zipWithIndex.map { case (b, i) =>
      val d = Paths.get(dir, f"batch-$i%04d")
      Files.createDirectories(d)
      b.zipWithIndex.groupBy(_._2 % parts).foreach { case (k, ds) =>
        Files.write(d.resolve(f"part-$k%02d.json"), ds.sortBy(_._2).map(_._1.line).asJava)
      }
      d.toString
    }
  }

  /** Backfill `objects` into `mirror` with `Backfill.syncAll` at its
    * defaults (sequential, 250-row chunks), timed into `pass`, and check
    * its reported counts against the served ones. Returns the scan's
    * epoch-micros window, widened by a second each side. */
  def backfill(spark: SparkSession, mirror: String, objects: Vector[Gen.Obj], pass: Pass,
      ledger: Ledger, trace: Option[Trace]): (Long, Long) = {
    val byTable = objects.groupBy(_.table)
    val fetcher = new GenFetcher(byTable)
    def scan() = Backfill.syncAll(spark, mirror, fetcher)
    val startMicros = System.currentTimeMillis() * 1000L
    val synced = ledger.op("syncAll") {
      val (counts, s) = timed(trace.fold(scan())(_.span("backfill:syncAll")(scan())))
      pass.scanS += s
      pass.scanned += counts.values.sum
      pass.chunks += fetcher.chunks
      pass.fetchS += fetcher.fetchNs / 1e9
      counts
    }
    val endMicros = System.currentTimeMillis() * 1000L
    ledger.check("syncAll counts") {
      val served = byTable.map { case (t, os) => t -> os.size.toLong }
      synced.filter(_.filter(_._2 > 0) != served)
        .map(c => s"syncAll reported $c, served $served").toSeq
    }
    (startMicros - 1000000L, endMicros + 1000000L)
  }

  /** Time `StripeEvents.parseEnvelope` and `TableDef.projectFrom` into a
    * `noop` sink over the cached raw deliveries in `rawDirs`. */
  def webhookProbes(spark: SparkSession, rawDirs: Seq[String]): (Double, Double) = {
    val raw = spark.read.text(rawDirs: _*).cache()
    try {
      val n = raw.count()
      val (_, parseS) = timed(
        StripeEvents.parseEnvelope(raw).write.format("noop").mode(SaveMode.Overwrite).save())
      val env = StripeEvents.parseEnvelope(raw).select("event_type", "payload", "created")
        .filter(col("payload").isNotNull).cache()
      try {
        val groups = StripeEvents.routes.toSeq
          .collect { case (t, (tdef, StripeEvents.Upsert)) => tdef -> t }
          .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq.sortBy(_._1.table)
        val inputs = groups.map { case (tdef, types) =>
          tdef -> env.filter(col("event_type").isin(types: _*))
        }
        val routed = inputs.map(_._2.count()).sum
        val (_, projS) = timed(inputs.foreach { case (tdef, in) =>
          tdef.projectFrom(in, "payload", timestamp_seconds(col("created")))
            .write.format("noop").mode(SaveMode.Overwrite).save()
        })
        (parseS * 1e3 / (n / 1e3), projS * 1e3 / (routed / 1e3))
      } finally env.unpersist()
    } finally raw.unpersist()
  }

  /** Run the dashboard set once, timed, into `pass`. */
  def read(spark: SparkSession, pass: Pass, ledger: Ledger, trace: Option[Trace],
      mirror: String, biz: String): Unit =
    ledger.op("read") {
      def call() = Dashboard.run(spark, mirror, biz)
      val (r, s) = timed(trace.fold(call())(_.span("read:set")(call())))
      pass.readTimes += s
      pass.readFiles += r.filesScanned
      pass.readBytes += r.bytesScanned
    }

  /** Normal webhook traffic against a warm mirror: the set-up
    * backfills the mirror, then batches run in stream order, each
    * followed by a dashboard set. */
  final class Steady(spark: SparkSession, seed: Long, seconds: Int) extends Workload {
    // one batch per measured second, the minimum, and the warm-up and
    // traced batches: more than the engine can take at its current speed
    private val nBatches = seconds + SteadyWarmBatches + SteadyMinBatches + 1
    private var gen: Gen.Inputs = _
    private var dir: String = _
    private var scan: (Long, Long) = _
    private var batchDirs: Seq[String] = Nil
    private var frames: Seq[DataFrame] = Nil
    private def mirror = s"$dir/mirror"
    private def before = s"$dir/mirror-before"
    private lazy val pipeline = new WebhookPipeline(mirror)
    private val processed = mutable.ArrayBuffer.empty[Int]
    private var next = 0
    private var limit = nBatches - 1
    def minUnits: Int = SteadyMinBatches
    /** The stream's first batches and dashboard sets. */
    def warmUp(ledger: Ledger): Unit = {
      (0 until SteadyWarmBatches).foreach { _ =>
        processed += next
        ledger.op(s"batch $next")(pipeline.processBatch(frames(next), next.toLong))
        next += 1
      }
      (0 until SteadyWarmReads).foreach(_ => read(spark, new Pass, ledger, None, mirror, s"$dir/biz"))
      ledger.settle()
    }

    def prepare(d: String, pass: Pass, ledger: Ledger, trace: Option[Trace]): Double = {
      val (g, genS) = timed(Gen.steady(seed, SteadyRows, SteadyBatch, nBatches))
      gen = g
      dir = d
      batchDirs = writeBatches(s"$d/inputs", g.batches, spark.sparkContext.defaultParallelism)
      scan = backfill(spark, mirror, g.objects, pass, ledger, trace)
      Dashboard.writeBusinessData(spark, s"$d/biz", seed)
      frames = batchDirs.map(p => spark.read.text(p))
      genS
    }

    def inputsDigest: String = gen.digest

    override def hasNext: Boolean = next < limit

    override def startTracedPhase(): Unit = {
      next = nBatches - 1
      limit = nBatches
      copyTree(mirror, before)
    }

    override def rewind(): Unit = {
      deleteTree(mirror)
      Files.move(Paths.get(before), Paths.get(mirror))
      next -= 1
      processed.remove(processed.size - 1)
    }

    def unit(pass: Pass, ledger: Ledger, trace: Option[Trace]): Unit = {
      val i = next
      next += 1
      processed += i
      def call() = pipeline.processBatch(frames(i), i.toLong)
      ledger.op(s"batch $i") {
        val (_, s) = timed(trace.fold(call())(_.span("webhook_pipeline:batch")(call())))
        pass.engineS += s
        pass.opTimes += s
        pass.batches += 1
        pass.inputs += gen.batches(i).size
      }
      read(spark, pass, ledger, trace, mirror, s"$dir/biz")
      pass.mirrorBytes = dirBytes(mirror)
    }

    def probes(): (Double, Double) = webhookProbes(spark, batchDirs.takeRight(2))

    override def finish(ledger: Ledger): Unit = ledger.check("mirror vs model") {
      val model = new Model(dedupEventIds = false)
      gen.objects.foreach(model.backfilled)
      processed.foreach(i => model.applyBatch(gen.batches(i)))
      compare(spark, mirror, model, scan)
    }
  }

  /** Bringing a mirror current after an outage: the set-up backfills
    * the pre-outage objects into an empty mirror, and each unit applies
    * the outage's webhook backlog, with event-id dedup on, to that
    * backfilled mirror. */
  final class Catchup(spark: SparkSession, seed: Long) extends Workload {
    private var gen: Gen.Inputs = _
    private var dir: String = _
    private var scan: (Long, Long) = _
    private var batchDirs: Seq[String] = Nil
    private var frames: Seq[DataFrame] = Nil
    private def mirror = s"$dir/mirror"
    /** The mirror as the backfill left it. */
    private def backfilled = s"$dir/mirror-backfilled"
    private var applied = false
    def minUnits: Int = 1
    override def hasNext: Boolean = !applied

    def prepare(d: String, pass: Pass, ledger: Ledger, trace: Option[Trace]): Double = {
      val (g, genS) = timed(Gen.catchup(seed, CatchupRows, CatchupBatch, CatchupBatches))
      gen = g
      dir = d
      batchDirs = writeBatches(s"$d/inputs", g.batches, spark.sparkContext.defaultParallelism)
      scan = backfill(spark, mirror, g.objects, pass, ledger, trace)
      copyTree(mirror, backfilled)
      Dashboard.writeBusinessData(spark, s"$d/biz", seed)
      frames = batchDirs.map(p => spark.read.text(p))
      genS
    }

    def inputsDigest: String = gen.digest

    private def applyBacklog(at: String, pass: Pass, ledger: Ledger, trace: Option[Trace]): Unit = {
      val pipeline = new WebhookPipeline(at, config = SyncConfig(dedupEventIds = true))
      gen.batches.indices.foreach { i =>
        def call() = pipeline.processBatch(frames(i), i.toLong)
        ledger.op(s"batch $i") {
          val (_, s) = timed(trace.fold(call())(_.span("webhook_pipeline:batch")(call())))
          pass.engineS += s
          pass.opTimes += s
          pass.batches += 1
          pass.inputs += gen.batches(i).size
        }
      }
    }

    /** The backlog and dashboard sets on a copy of the backfilled mirror. */
    def warmUp(ledger: Ledger): Unit = {
      val copy = s"$dir/warm-up"
      copyTree(backfilled, copy)
      applyBacklog(copy, new Pass, ledger, None)
      (0 until CatchupWarmReads).foreach(_ => read(spark, new Pass, ledger, None, copy, s"$dir/biz"))
      deleteTree(copy)
      ledger.settle()
    }

    /** Put the backfilled mirror back, apply the backlog to it, and read.
      * Every unit, traced or not, sees the same inputs and state. */
    def unit(pass: Pass, ledger: Ledger, trace: Option[Trace]): Unit = {
      applied = true
      deleteTree(mirror)
      copyTree(backfilled, mirror)
      applyBacklog(mirror, pass, ledger, trace)
      // the reads start on a settled process, after one untimed read: the
      // first read after the pause runs at about twice the others' time
      ledger.settle()
      read(spark, new Pass, ledger, None, mirror, s"$dir/biz")
      (0 until CatchupReads).foreach(_ => read(spark, pass, ledger, trace, mirror, s"$dir/biz"))
      pass.mirrorBytes = dirBytes(mirror)
    }

    def probes(): (Double, Double) = webhookProbes(spark, batchDirs)

    override def finish(ledger: Ledger): Unit = ledger.check("mirror vs model") {
      val model = new Model(dedupEventIds = true)
      gen.objects.foreach(model.backfilled)
      gen.batches.foreach(model.applyBatch)
      compare(spark, mirror, model, scan)
    }
  }

  /** A scan source over the generated objects that counts the 250-row
    * chunks `Backfill.syncEntity` pulls and the time spent serving them. */
  final class GenFetcher(byTable: Map[String, Vector[Gen.Obj]]) extends Backfill.EntityFetcher {
    var fetchNs = 0L
    var chunks = 0L
    def list(tdef: TableDef, createdGte: Option[Long], createdLt: Option[Long]): Iterator[String] = {
      val objs = byTable.getOrElse(tdef.table, Vector.empty)
        .filter(o => createdGte.forall(o.created >= _) && createdLt.forall(o.created < _))
      new Iterator[String] {
        private var i = 0
        def hasNext: Boolean = i < objs.size
        def next(): String = {
          val t = System.nanoTime()
          if (i % 250 == 0) chunks += 1
          val o = objs(i).json
          i += 1
          fetchNs += System.nanoTime() - t
          o
        }
      }
    }
    def retrieve(tdef: TableDef, id: String): Option[String] = None
  }
}
