package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.GraftSession

/** The core-path benchmark: one workload per process, a closed loop with
  * one client thread on Spark `local[nproc]`.
  *
  * A run sets up once (Spark start, input generation and the mirror's
  * backfill) and reports the time from JVM start until ready, then warms
  * up and measures with tracing off for `--seconds` (and at least the
  * workload's minimum number of units). With `--trace 1` the set-up's
  * backfill is traced, and after measuring the run does a traced and an
  * untraced unit on the same inputs and state; it reports the per-layer
  * metrics, plus the traced / untraced ratio of the units' timings. The
  * final mirror is checked against the sequential [[Model]]; any
  * mismatch fails the run.
  *
  * Usage: perfbench.Main --workload steady|catchup --seed N
  *   --seconds S --trace 0|1 --work DIR --out DIR [--git-sha X] [--source-sha Y]
  */
object Main {

  val SettleMs = 250L

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, out: String, gitSha: String, sourceSha: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("out"),
      m.getOrElse("git-sha", ""), m.getOrElse("source-sha", ""))
  }

  /** What one measuring pass observed. */
  final class Pass {
    var engineS = 0.0       // wall time inside processBatch
    var inputs = 0L         // deliveries handed to it
    var batches = 0L        // processBatch calls
    var scanS = 0.0         // wall time inside Backfill.syncAll
    var scanned = 0L        // objects it reported synced
    var chunks = 0L         // its 250-row chunks
    val opTimes = mutable.ArrayBuffer.empty[Double] // per batch
    val readTimes = mutable.ArrayBuffer.empty[Double]
    var readFiles = 0L
    var readBytes = 0L
    var mirrorBytes = 0L
    var fetchS = 0.0
    var gcS = 0.0           // GC time inside units
  }

  /** Counts operations and failures across the whole run, and the peak
    * live driver heap. */
  final class Ledger {
    var attempted = 0L
    var failed = 0L
    var peakHeap = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def op[A](what: String)(body: => A): Option[A] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Throwable =>
          failed += 1
          failures += s"$what: $e"
          e.printStackTrace()
          None
      }
    }
    /** Between units: a full GC, a pause in which the cleanup it queued
      * (shuffle files, broadcast and cache blocks of dead plans) and
      * Spark's listener queues finish, then a second full GC and the live
      * heap sample. The next unit starts on a quiet process. */
    def settle(): Unit = {
      System.gc()
      Thread.sleep(SettleMs)
      System.gc()
      peakHeap = math.max(peakHeap, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
    /** A correctness check: an operation that fails if it throws or
      * finds mismatches. */
    def check(what: String)(mismatches: => Seq[String]): Unit =
      op(what)(mismatches).filter(_.nonEmpty).foreach { bad =>
        failed += 1
        failures ++= bad.take(10).map(b => s"$what: $b")
      }
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val (src, dst) = (Paths.get(from), Paths.get(to))
    val s = Files.walk(src)
    try s.iterator().asScala.foreach(p => Files.copy(p, dst.resolve(src.relativize(p))))
    finally s.close()
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  // ---- correctness --------------------------------------------------------

  /** (id -> (last_synced_at in epoch micros, deleted)) of a mirror table;
    * empty if the table was never written. */
  def mirrorRows(spark: SparkSession, dir: String, table: String): Map[String, (Long, Boolean)] = {
    val path = s"$dir/$table"
    if (!Files.exists(Paths.get(path))) Map.empty
    else {
      val df = spark.read.parquet(path)
      val deleted =
        if (df.columns.contains("deleted")) coalesce(col("deleted"), lit(false))
        else lit(false)
      val rows = df.select(col("id"), unix_micros(col("last_synced_at")), deleted).collect()
      val m = rows.map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      if (m.size != rows.length) Map("__duplicate_keys__" -> (0L, false)) else m
    }
  }

  /** Mismatches between the mirror at `dir` and the model. `scan` is the
    * epoch-micros window of the backfill that wrote the
    * [[Model.Backfilled]] rows; merge-time stamps come after its start. */
  def compare(spark: SparkSession, dir: String, model: Model, scan: (Long, Long)): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    def diff(table: String, want: collection.Map[String, Model.Row]): Unit = {
      val got = mirrorRows(spark, dir, table)
      if (got.size != want.size) out += s"$table: ${got.size} rows, model has ${want.size}"
      want.foreach { case (id, w) =>
        got.get(id) match {
          case None => out += s"$table/$id missing"
          case Some((ts, del)) =>
            val tsOk = w.ts match {
              case Model.WallClock => ts > scan._1
              case Model.Backfilled => ts >= scan._1 && ts <= scan._2
              case created => ts == created * 1000000L
            }
            if (!tsOk || del != w.deleted)
              out += s"$table/$id: ts=$ts deleted=$del, model ${w.ts} ${w.deleted}"
        }
      }
    }
    model.tables.foreach { case (t, rows) => diff(t, rows) }
    if (model.items.nonEmpty)
      diff("subscription_items", model.items.map { case (id, (_, r)) => id -> r })
    val qPath = s"$dir/_quarantine"
    val q = if (Files.exists(Paths.get(qPath))) spark.read.parquet(qPath).count() else 0L
    if (q != model.quarantined) out += s"_quarantine: $q rows, model has ${model.quarantined}"
    out.toSeq
  }

  // ---- metrics --------------------------------------------------------------

  final case class Metric(name: String, value: Double, unit: String, note: String)

  def fmt(x: Double): String = f"$x%.3f"

  /** The pass-level end-to-end metrics (all but `setup_s`). */
  def endToEnd(p: Pass, peakHeap: Long): Seq[Metric] = Seq(
    Metric("events_per_s", p.inputs / p.engineS, "1/s", s"${p.inputs} deliveries in ${fmt(p.engineS)} s"),
    Metric("objects_per_s", p.scanned / p.scanS, "1/s",
      s"${p.scanned} objects synced in ${fmt(p.scanS)} s (${p.chunks} chunks)"),
    Metric("batch_p50_s", median(p.opTimes.toSeq), "s", s"n=${p.opTimes.size} batches"),
    Metric("read_p50_s", median(p.readTimes.toSeq), "s", s"n=${p.readTimes.size} dashboard sets"),
    Metric("peak_heap_mb", peakHeap / 1e6, "MB", "live heap after a full GC, max over units"),
    Metric("mirror_mb", p.mirrorBytes / 1e6, "MB", "mirror bytes on disk at the end of a unit"))

  /** Traced / untraced ratio of each timing a unit measures. */
  def overhead(t: Pass, u: Pass): Seq[Metric] =
    endToEnd(t, 0L).zip(endToEnd(u, 0L))
      .filter { case (a, _) => Seq("events_per_s", "batch_p50_s", "read_p50_s").contains(a.name) }
      .map { case (a, b) =>
        Metric(s"trace.overhead.${a.name}", a.value / b.value, "ratio",
          s"traced ${fmt(a.value)} / untraced ${fmt(b.value)}, one unit each on the same inputs")
      }

  /** Per-layer metrics from the traced unit `p` and the traced set-up's
    * backfill, whose counts are in `setup`. */
  def perLayer(trace: Trace, p: Pass, setup: Pass, cores: Int, genS: Double,
      probes: (Double, Double)): Seq[Metric] = {
    val jobs = trace.allJobs.filter(j => trace.rootOf(j.span) != null)
    def under(layer: String) = jobs.filter(j => trace.rootOf(j.span).name.startsWith(layer + ":"))
    def per(x: Double, n: Double) = if (n > 0) x / n else 0.0
    def secs(js: Seq[Trace.Job]) = js.map(_.seconds).sum
    val pipe = under("webhook_pipeline")
    // the batch's merges and guard; the backfill's merges are its own
    val merge = pipe.filter(j => trace.layerOf(j) == "merge_sink")
    val ops = merge.count(_.outBytes > 0).toDouble
    val guard = pipe.filter(j => trace.layerOf(j) == "replay_guard")
    val fill = under("backfill")
    val reads = under("read")
    val sets = p.readTimes.size.toDouble
    val wallS = trace.allSpans.filter(_.parent == 0L).map(_.seconds).sum
    val busyS = jobs.map(_.runMs).sum / 1e3
    Seq(
      Metric("merge_sink.jobs_per_op", per(merge.size, ops), "count", s"${merge.size} jobs, ${ops.toLong} ops"),
      Metric("merge_sink.job_s_per_op", per(secs(merge), ops), "s", ""),
      Metric("merge_sink.rows_written_per_input", per(merge.map(_.outRecords).sum, p.inputs), "ratio",
        s"${p.inputs} inputs"),
      Metric("merge_sink.mb_written", merge.map(_.outBytes).sum / 1e6, "MB", ""),
      Metric("merge_sink.mb_read", merge.map(_.inBytes).sum / 1e6, "MB", ""),
      Metric("merge_sink.files_written_per_op", per(merge.map(_.outFiles).sum, ops), "count", ""),
      Metric("webhook_pipeline.jobs_per_batch", per(pipe.size, p.batches), "count", s"${p.batches} batches"),
      Metric("webhook_pipeline.job_s_per_batch", per(secs(pipe), p.batches), "s", ""),
      Metric("stripe_events.parse_ms_per_kevent", probes._1, "ms", "noop-sink probe"),
      Metric("table_defs.project_ms_per_kevent", probes._2, "ms", "noop-sink probe"),
      Metric("replay_guard.jobs_per_batch", per(guard.size, p.batches), "count", ""),
      Metric("replay_guard.job_s_per_batch", per(secs(guard), p.batches), "s", ""),
      Metric("backfill.jobs_per_chunk", per(fill.size, setup.chunks), "count",
        s"${setup.chunks} chunks, set-up backfill"),
      Metric("backfill.job_s_per_chunk", per(secs(fill), setup.chunks), "s", ""),
      Metric("backfill.fetch_s", setup.fetchS, "s", ""),
      Metric("read.jobs_per_set", per(reads.size, sets), "count", s"${sets.toLong} sets"),
      Metric("read.files_scanned_per_set", per(p.readFiles, sets), "count", ""),
      Metric("read.mb_scanned_per_set", per(p.readBytes / 1e6, sets), "MB", ""),
      Metric("spark.jobs", jobs.size, "count", ""),
      Metric("spark.tasks", jobs.map(_.tasks).sum, "count", ""),
      Metric("spark.executor_busy_s", busyS, "s", ""),
      Metric("spark.cpu_util", per(busyS, wallS * cores), "ratio", s"${fmt(wallS)} s traced wall x $cores cores"),
      Metric("spark.shuffle_mb", jobs.map(_.shuffleBytes).sum / 1e6, "MB", ""),
      Metric("spark.spill_mb", jobs.map(_.spillBytes).sum / 1e6, "MB", ""),
      Metric("spark.gc_s", p.gcS, "s", "inside the traced unit"),
      Metric("gen.s", genS + setup.fetchS, "s", "set-up generation + fetch"))
  }

  def json(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString

  /** Run one unit, timing its GC and, when traced, recording its jobs;
    * then settle. */
  def runUnit(w: Workload, pass: Pass, ledger: Ledger, trace: Option[Trace]): Unit = {
    trace.foreach(_.start())
    val gc0 = gcSeconds
    w.unit(pass, ledger, trace)
    pass.gcS += gcSeconds - gc0
    trace.foreach { t => t.drain(); t.stop() }
    ledger.settle()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("WARN")
    val sparkS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val w = Workloads(a.workload, spark, a.seed, a.seconds).getOrElse {
      System.err.println(s"unknown workload '${a.workload}' (steady|catchup)")
      sys.exit(2)
    }
    val ledger = new Ledger
    val pass = new Pass
    val runId = s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}"
    val trace = if (a.trace) Some(new Trace(spark.sparkContext, runId)) else None
    trace.foreach(_.start())
    val (genS, prepS) = timed(w.prepare(a.work, pass, ledger, trace))
    trace.foreach { t => t.drain(); t.stop() }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val (_, warmS) = timed(w.warmUp(ledger))
    val measureStart = System.nanoTime()
    val deadline = measureStart + a.seconds * 1000000000L
    var units = 0
    while (w.hasNext && (units < w.minUnits || System.nanoTime() < deadline)) {
      runUnit(w, pass, ledger, None)
      units += 1
    }
    val measureS = (System.nanoTime() - measureStart) / 1e9
    val e2e = Metric("setup_s", setupS, "s",
      f"JVM start until ready: Spark start $sparkS%.3f s, set-up $prepS%.3f s") +:
      endToEnd(pass, ledger.peakHeap)

    val layers: Seq[Metric] = trace.toSeq.flatMap { t =>
      val (tp, up) = (new Pass, new Pass)
      w.startTracedPhase()
      runUnit(w, tp, ledger, Some(t))
      w.rewind()
      runUnit(w, up, ledger, None)
      perLayer(t, tp, pass, cores, genS, w.probes()) ++ overhead(tp, up)
    }
    w.finish(ledger)

    val sc = spark.sparkContext
    val mem = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getTotalMemorySize
      case _ => -1L
    }
    val stamp = Seq(
      "workload" -> json(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> (if (a.trace) "1" else "0"),
      "nproc" -> cores.toString, "default_parallelism" -> sc.defaultParallelism.toString,
      "mem_total_mb" -> (mem / (1 << 20)).toString,
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark_version" -> json(spark.version),
      "jdk_version" -> json(System.getProperty("java.version")),
      "git_sha" -> json(a.gitSha), "source_sha256" -> json(a.sourceSha),
      "inputs_sha256" -> json(w.inputsDigest))
      .map { case (k, v) => json(k) + ":" + v }.mkString("{", ",", "}")
    spark.stop()

    val errorRate = ledger.failed.toDouble / math.max(1L, ledger.attempted)
    println(s"[perfbench] host $stamp")
    (e2e ++ layers).foreach { m =>
      println(f"[perfbench] ${a.workload}%-8s ${m.name}%-38s ${m.value}%14.4f ${m.unit}%-6s ${m.note}")
    }
    println(f"[perfbench] ${a.workload}%-8s ${"error_rate"}%-38s $errorRate%14.4f ratio  " +
      s"${ledger.failed} of ${ledger.attempted} operations failed")
    println(s"[perfbench] ${a.workload} samples batch_s=" +
      pass.opTimes.map(fmt).mkString("[", ",", "]") +
      " read_s=" + pass.readTimes.map(fmt).mkString("[", ",", "]"))
    println(f"[perfbench] ${a.workload} phases setup=$setupS%.1f s warm-up=$warmS%.1f s " +
      f"measuring=$measureS%.1f s ($units units) total=${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")
    ledger.failures.foreach(f => println(s"[perfbench] FAILED $f"))
    val reported = if (a.trace) layers else e2e
    val metricsJson = reported.map(m =>
      json(m.name) + s""":{"value":${num(m.value)},"unit":${json(m.unit)}}""").mkString("{", ",", "}")
    val correct = ledger.failed == 0
    val result = s"""{"correct":$correct,"attempted":${ledger.attempted},""" +
      s""""failed":${ledger.failed},"metrics":$metricsJson}"""
    Files.createDirectories(Paths.get(a.out))
    Files.write(Paths.get(a.out, "results.jsonl"),
      Seq(s"""{"stamp":$stamp,"result":$result}""").asJava,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    trace.foreach(t => Files.write(Paths.get(a.out, s"trace-$runId.jsonl"), t.lines.asJava))
    println(result)
    sys.exit(if (correct) 0 else 1)
  }
}
