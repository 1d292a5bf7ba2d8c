package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session defaults — every main (Verify,
  * Bench, tools) builds through here instead of repeating the conf
  * block.
  *
  * Local defaults: GraftExtensions (native expressions in SQL),
  * shuffle partitions = cores (not Spark's 200 — local[N] has N slots),
  * AQE + partition coalescing, UTC, nanos-as-long (the events table is
  * INT64 TIMESTAMP(NANOS)), UI off.
  *
  * Two bounds keep a long-running sync loop warm and small:
  *  - the codegen cache holds one webhook batch's generated classes plus
  *    one dashboard read's, so a warm batch and its read compile
  *    nothing. That also needs the sync path to keep per-batch values
  *    out of generated source: its stamps use
  *    [[graft.functions.WallClock]], not `current_timestamp()`;
  *  - the status stores (jobs, stages, SQL executions) keep the recent
  *    history only. The UI is off and nothing in the engine reads them,
  *    but Spark's listeners fill them regardless.
  *
  * A cluster deployment keeps the same confs minus `master`, sizes
  * `spark.sql.shuffle.partitions` to ~2-3× total executor cores, and
  * adds `spark.sql.adaptive.skewJoin.enabled=true` (AQE skew-split) —
  * the engine's operators assume nothing beyond these.
  */
object GraftSession {

  /** Local core count for the mains: `SPARK_GRAFT_CPUS` when set, else
    * every core the JVM sees. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int, adaptive: Boolean = true): SparkSession =
    SparkSession.builder()
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", adaptive)
      .config("spark.sql.adaptive.coalescePartitions.enabled", adaptive)
      .config("spark.sql.session.timeZone", "UTC")
      // runtime-bloom caps govern EVERY BloomFilterAggregate, including
      // the ReplayGuard's admission filters (which clamp to these so
      // driver-built and aggregate-built filters stay mergeable). The
      // defaults (4M items / 64 Mbit) cap the exact-fpp envelope at
      // ~5M ids; raise to ~1e9 items / 1 Gbit ≈ 110M ids at 1% fpp —
      // past that the guard degrades fpp gracefully, never crashes.
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", 1000000000L)
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", 1073741824L)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the engine's bucketed stores (ReplayGuard ledgers, signature/
      // band stores, BM25 postings/doclen) all use 64 buckets — above
      // the default parallel-listing threshold (32), so EVERY read of
      // any such store paid a distributed "listing leaf files" JOB for
      // a path set a driver lists in microseconds (measured: 17 listing
      // jobs ≈ 1.9 s inside one qs9 run). 512 keeps sub-thousand
      // partition listings driver-side; genuinely large partitioned
      // tables (>512 dirs) still use the distributed path, so the
      // setting is scale-adaptive, not a local[32] hack.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", 512)
      // a warm `steady` webhook batch compiles ~113 generated classes and
      // the dashboard read after it ~48: more than the default 100
      // entries, and batch and read alternate, so every batch
      // and every read recompiled the classes the other had pushed out
      // (~115 and ~50 Janino compiles). 256 holds one batch plus one read
      // with headroom; a warm pair then compiles 0.
      .config("spark.sql.codegen.cache.maxEntries", 256)
      // the status stores' defaults (1000 executions/jobs/stages) hold
      // every plan and job of a long sync loop on the heap
      .config("spark.sql.ui.retainedExecutions", 50)
      .config("spark.ui.retainedJobs", 100)
      .config("spark.ui.retainedStages", 100)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
