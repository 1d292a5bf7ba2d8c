package graft

import org.apache.spark.sql.functions._
import graft.model.{TableDef, TableDefs}
import graft.operators.Backfill

/** Backfill scans + the recursive FK backfill DAG (S3/S4/S6/S7 + J1/J2)
  * against an in-memory fetcher (the Stripe API stand-in). */
class BackfillSpec extends SparkSpec {
  import spark.implicits._

  /** charge → invoice → customer chain: upserting the charge must pull
    * its missing parents transitively (stripeSync.ts:1065-1070 →
    * :1273-1278). */
  private val store: Map[String, String] = Map(
    "ch_1" -> """{"id":"ch_1","object":"charge","amount":5,"customer":"cus_1","invoice":"in_1","created":10}""",
    "in_1" -> """{"id":"in_1","object":"invoice","total":5,"customer":"cus_1","created":9}""",
    "cus_1" -> """{"id":"cus_1","object":"customer","email":"e@x.y","created":8}""")

  // a named top-level class, NOT an anonymous `new EntityFetcher {...}`
  // referencing spec fields: backfillParents now fetches inside
  // mapPartitions, so the fetcher closure must not capture the
  // (non-serializable) spec instance
  private val fetcher = new BackfillSpec.MapFetcher(store)

  test("syncSingle dispatches by id prefix and lands the row (S6)") {
    val dir = tmpDir("graft_bf1")
    assert(Backfill.syncSingle(spark, dir, fetcher, "ch_1") == 1L)
    assert(spark.read.parquet(s"$dir/charges").count() == 1)
  }

  test("missingParents computes the anti-join frontier (J1)") {
    val dir = tmpDir("graft_bf2")
    val batch = Seq(store("ch_1")).toDF("payload")
    val missing = Backfill.missingParents(spark, dir,
      TableDefs.charges.projectFrom(batch, "payload", current_timestamp()),
      TableDefs.charges)
    assert(missing("customers").as[String].collect().toSeq == Seq("cus_1"))
    assert(missing("invoices").as[String].collect().toSeq == Seq("in_1"))
  }

  test("backfillParents recurses up the DAG to fixpoint (J2)") {
    val dir = tmpDir("graft_bf3")
    val batch = Seq(store("ch_1")).toDF("payload")
    val projected = TableDefs.charges.projectFrom(batch, "payload", current_timestamp())
    val counts = Backfill.backfillParents(spark, dir, projected, TableDefs.charges, fetcher)
    assert(counts.get("invoices").contains(1L))
    assert(counts.get("customers").contains(1L))
    assert(spark.read.parquet(s"$dir/customers").count() == 1)
    // rerun is a no-op: parents now present
    assert(Backfill.backfillParents(spark, dir, projected, TableDefs.charges, fetcher).isEmpty)
  }

  test("backfillParents sums counts when two edges reach the same ancestor") {
    // charge → customer edge pulls cus_a directly; charge → invoice edge
    // pulls in_b whose recursion pulls cus_b — BOTH contribute to the
    // customers count, which must sum to 2 (the flatMap-to-Map collapse
    // used to keep only one edge's count)
    val store2 = Map(
      "ch_2" -> """{"id":"ch_2","object":"charge","amount":7,"customer":"cus_a","invoice":"in_b","created":20}""",
      "in_b" -> """{"id":"in_b","object":"invoice","total":7,"customer":"cus_b","created":19}""",
      "cus_a" -> """{"id":"cus_a","object":"customer","email":"a@x.y","created":18}""",
      "cus_b" -> """{"id":"cus_b","object":"customer","email":"b@x.y","created":18}""")
    val f2 = new BackfillSpec.MapFetcher(store2)
    val dir = tmpDir("graft_bf_sum")
    val batch = Seq(store2("ch_2")).toDF("payload")
    val projected = TableDefs.charges.projectFrom(batch, "payload", current_timestamp())
    val counts = Backfill.backfillParents(spark, dir, projected, TableDefs.charges, f2)
    assert(counts.get("invoices").contains(1L))
    assert(counts.get("customers").contains(2L), s"got $counts")
    assert(spark.read.parquet(s"$dir/customers").count() == 2)
  }

  test("syncWindow maps daily/weekly/monthly to created >= now-Nd pushdown (cron routes)") {
    val dir = tmpDir("graft_bf5")
    val now = 1000000L
    val docs = Seq(
      ("""{"id":"cus_old","object":"customer","email":"o@x.y","created":1000}""", 1000L),
      (s"""{"id":"cus_new","object":"customer","email":"n@x.y","created":${now - 3600}}""", now - 3600))
    val gteAware = new Backfill.EntityFetcher {
      def list(tdef: TableDef, gte: Option[Long], lt: Option[Long]): Iterator[String] =
        docs.iterator
          .filter(_._1.contains(s""""object":"${tdef.stripeObject}""""))
          .filter(d => gte.forall(d._2 >= _))
          .map(_._1)
      def retrieve(tdef: TableDef, id: String): Option[String] = None
    }
    val counts = Backfill.syncWindow(spark, dir, gteAware, "daily", nowEpochS = now)
    assert(counts("customers") == 1L) // cus_old (created=1000) outside now-1d
    assert(spark.read.parquet(s"$dir/customers").select("id").as[String]
      .collect().toSeq == Seq("cus_new"))
    intercept[IllegalArgumentException] {
      Backfill.syncWindow(spark, dir, gteAware, "hourly", nowEpochS = now)
    }
  }

  test("syncWindows: concurrent created-range windows equal the sequential scan") {
    // 40 customers created across [0, 400); the fetcher honors both
    // range bounds, records which threads called it, and holds each call
    // 200 ms so the peak of calls in flight at once shows the fetch width
    val docs = (0 until 40).map { i =>
      (s"""{"id":"cus_w$i","object":"customer","email":"w$i@x.y","created":${i * 10}}""",
        i * 10L)
    }
    val threads = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val inFlight = new java.util.concurrent.atomic.AtomicInteger()
    val peak = new java.util.concurrent.atomic.AtomicInteger()
    val ranged = new Backfill.EntityFetcher {
      def list(tdef: TableDef, gte: Option[Long], lt: Option[Long]): Iterator[String] = {
        threads.add(Thread.currentThread().getName)
        peak.accumulateAndGet(inFlight.incrementAndGet(), math.max)
        try Thread.sleep(200) finally inFlight.decrementAndGet()
        docs.iterator
          .filter(_._1.contains(s""""object":"${tdef.stripeObject}""""))
          .filter(d => gte.forall(d._2 >= _) && lt.forall(d._2 < _))
          .map(_._1)
      }
      def retrieve(tdef: TableDef, id: String): Option[String] = None
    }
    val seqDir = tmpDir("graft_bfw_s"); val parDir = tmpDir("graft_bfw_p")
    val nSeq = Backfill.syncEntity(spark, seqDir, TableDefs.customers, ranged)
    val windows = Seq((0L, 100L), (100L, 200L), (200L, 300L), (300L, 400L))
    peak.set(0)
    val nPar = Backfill.syncWindows(spark, parDir, TableDefs.customers, ranged,
      windows, parallelism = 4, chunkSize = 7)
    assert(nPar == nSeq && nPar == 40L)
    assert(threads.size > 1, "windows must actually fetch concurrently")
    assert(peak.get <= 4 && peak.get > 1, s"peak ${peak.get} fetches at once")
    val seqRows = spark.read.parquet(s"$seqDir/customers")
      .select("id", "email").as[(String, String)].collect().toSet
    val parRows = spark.read.parquet(s"$parDir/customers")
      .select("id", "email").as[(String, String)].collect().toSet
    assert(parRows == seqRows)

    // more windows than the width: at most `parallelism` fetch at once
    val narrowDir = tmpDir("graft_bfw_n")
    peak.set(0)
    val nNarrow = Backfill.syncWindows(spark, narrowDir, TableDefs.customers, ranged,
      (0L until 400L by 50L).map(g => (g, g + 50L)), parallelism = 3)
    assert(nNarrow == 40L)
    assert(peak.get <= 3 && peak.get > 1, s"peak ${peak.get} fetches at once")
    assert(spark.read.parquet(s"$narrowDir/customers")
      .select("id", "email").as[(String, String)].collect().toSet == seqRows)

    // OVERLAPPING windows: every doc in [100, 300) is fetched twice; the
    // LWW + merge guard collapses the duplicates — the table's row set
    // is unchanged (the count metric honestly reports payloads processed)
    val ovDir = tmpDir("graft_bfw_o")
    peak.set(0)
    val nOv = Backfill.syncWindows(spark, ovDir, TableDefs.customers, ranged,
      Seq((0L, 300L), (100L, 400L)), parallelism = 2)
    assert(nOv == 60L) // 30 + 30 payloads, [100,300) double-fetched
    assert(peak.get <= 2 && peak.get > 1, s"peak ${peak.get} fetches at once")
    assert(spark.read.parquet(s"$ovDir/customers")
      .select("id", "email").as[(String, String)].collect().toSet == seqRows)
  }

  test("syncEntity scans + chunks + counts (S3/S4)") {
    val dir = tmpDir("graft_bf4")
    val n = Backfill.syncEntity(spark, dir, TableDefs.charges, fetcher, chunkSize = 1)
    assert(n == 1L)
    assert(spark.read.parquet(s"$dir/charges").head().getAs[Long]("amount") == 5L)
  }

  test("parallel syncAll matches the sequential scan (S7, independent tables)") {
    val seqDir = tmpDir("graft_bf6s")
    val parDir = tmpDir("graft_bf6p")
    val sequential = Backfill.syncAll(spark, seqDir, fetcher)
    val parallel = Backfill.syncAll(spark, parDir, fetcher, parallelism = 4)
    assert(parallel == sequential)
    assert(parallel("charges") == 1L)
    for (t <- Seq("charges", "invoices", "customers"))
      assert(spark.read.parquet(s"$parDir/$t").select("id").as[String].collect().toSet ==
        spark.read.parquet(s"$seqDir/$t").select("id").as[String].collect().toSet)
  }

  test("a failed parallel syncAll rethrows the first failure without waiting out its siblings") {
    // the first active table's scan hangs; the second fails at once
    val hang = TableDefs.active(0); val fail = TableDefs.active(1)
    val failing = new Backfill.EntityFetcher {
      def list(tdef: TableDef, gte: Option[Long], lt: Option[Long]): Iterator[String] = {
        if (tdef == hang) Thread.sleep(60000)
        if (tdef == fail) throw new IllegalStateException("list failed")
        Iterator.empty
      }
      def retrieve(tdef: TableDef, id: String): Option[String] = None
    }
    val calledAt = System.currentTimeMillis()
    intercept[IllegalStateException] {
      Backfill.syncAll(spark, tmpDir("graft_bf_fail"), failing, parallelism = 4)
    }
    val took = System.currentTimeMillis() - calledAt
    assert(took < 30000, s"syncAll took $took ms: it waited out the hung scan")
  }

  test("RetryingFetcher retries transient failures with exponential backoff") {
    import graft.operators.RetryingFetcher
    // fails the first two retrieve calls, then succeeds
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = new Backfill.EntityFetcher {
      def list(tdef: TableDef, gte: Option[Long], lt: Option[Long]): Iterator[String] =
        store.valuesIterator.filter(_.contains(s""""object":"${tdef.stripeObject}""""))
      def retrieve(tdef: TableDef, id: String): Option[String] = {
        if (calls.incrementAndGet() <= 2) throw new java.io.IOException("rate limited")
        store.get(id)
      }
    }
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val retrying = new RetryingFetcher(flaky, maxAttempts = 3,
      baseDelayMs = 100L, sleeper = slept += _)
    assert(retrying.retrieve(TableDefs.charges, "ch_1").isDefined)
    assert(slept.toSeq == Seq(100L, 200L)) // base · 2^(attempt−1)
    // exhausted attempts surface the failure
    calls.set(0)
    val giveUp = new RetryingFetcher(flaky, maxAttempts = 2,
      baseDelayMs = 1L, sleeper = _ => ())
    calls.set(-100) // 102 consecutive failures > 2 attempts
    intercept[java.io.IOException] { giveUp.retrieve(TableDefs.charges, "ch_1") }
  }

  test("RetryingFetcher rethrows deterministic failures without retrying") {
    import graft.operators.RetryingFetcher
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val broken = new Backfill.EntityFetcher {
      def list(tdef: TableDef, gte: Option[Long], lt: Option[Long]): Iterator[String] =
        Iterator.empty
      def retrieve(tdef: TableDef, id: String): Option[String] = {
        calls.incrementAndGet()
        throw new IllegalArgumentException("bad api key")
      }
    }
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val retrying = new RetryingFetcher(broken, maxAttempts = 5,
      baseDelayMs = 100L, sleeper = slept += _)
    intercept[IllegalArgumentException] { retrying.retrieve(TableDefs.charges, "x") }
    assert(calls.get() == 1)     // no second attempt
    assert(slept.isEmpty)        // no backoff burned on a permanent error
  }

  test("RetryingFetcher resumes a cursor that dies mid-iteration") {
    import graft.operators.RetryingFetcher
    val docs = (1 to 8).map(i => s"""{"id":"ch_$i","object":"charge","amount":$i}""")
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = new Backfill.EntityFetcher {
      def list(tdef: TableDef, gte: Option[Long], lt: Option[Long]): Iterator[String] = {
        val attempt = attempts.incrementAndGet()
        // first cursor dies after 3 rows; the re-listed one survives
        if (attempt == 1) docs.iterator.take(3) ++ Iterator.continually[String](
          throw new java.io.IOException("connection reset")).take(1)
        else docs.iterator
      }
      def retrieve(tdef: TableDef, id: String): Option[String] = None
    }
    val retrying = new RetryingFetcher(flaky, maxAttempts = 3,
      baseDelayMs = 1L, sleeper = _ => ())
    val got = retrying.list(TableDefs.charges, None, None).toSeq
    assert(got == docs)        // every row exactly once, order preserved
    assert(attempts.get() == 2) // one restart
  }

  test("RetryingFetcher resume loses no rows when the re-listed cursor is reordered") {
    import graft.operators.RetryingFetcher
    val docs = (1 to 6).map(i => s"""{"id":"ch_$i","object":"charge","amount":$i}""")
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = new Backfill.EntityFetcher {
      def list(tdef: TableDef, gte: Option[Long], lt: Option[Long]): Iterator[String] = {
        val attempt = attempts.incrementAndGet()
        // cursor dies after ch_1..ch_3; the re-listed cursor has a NEW
        // row (ch_0) inserted at the head and ch_4 moved into the old
        // prefix — a count-skip of 3 would silently drop ch_4 and emit
        // the already-seen ch_3 again
        if (attempt == 1) docs.iterator.take(3) ++ Iterator.continually[String](
          throw new java.io.IOException("connection reset")).take(1)
        else (Seq("""{"id":"ch_0","object":"charge","amount":0}""",
          docs(3), docs(2), docs(0), docs(1), docs(4), docs(5))).iterator
      }
      def retrieve(tdef: TableDef, id: String): Option[String] = None
    }
    val retrying = new RetryingFetcher(flaky, maxAttempts = 3,
      baseDelayMs = 1L, sleeper = _ => ())
    val got = retrying.list(TableDefs.charges, None, None).toSeq
    // prefix before the crash, then every not-yet-seen row of the new
    // listing exactly once — nothing lost, nothing duplicated
    assert(got == docs.take(3) ++
      Seq("""{"id":"ch_0","object":"charge","amount":0}""", docs(3), docs(4), docs(5)))
  }

  test("backfillParents fetches the missing frontier on EXECUTORS, multi-partition") {
    // 45 charges, each referencing a distinct missing customer: at
    // width 10 the fetch must spread over >1 partition (45/10 = 4) —
    // proving the per-id retrieve left the driver — and still land
    // exactly the frontier, counted once per fetched parent
    val n = 45
    val chargeJson = (1 to n).map(i =>
      s"""{"id":"ch_p$i","object":"charge","amount":$i,"customer":"cus_p$i","created":$i}""")
    val parentStore = (1 to n).map(i =>
      s"cus_p$i" -> s"""{"id":"cus_p$i","object":"customer","email":"p$i@x.y","created":$i}""").toMap
    val partIds = spark.sparkContext.collectionAccumulator[Int]("fetchPartitions")
    val f = new BackfillSpec.MapFetcher(parentStore, partIds)
    val dir = tmpDir("graft_bf_exec")
    val projected = TableDefs.charges.projectFrom(
      chargeJson.toDF("payload"), "payload", current_timestamp())
    val counts = Backfill.backfillParents(spark, dir, projected, TableDefs.charges, f)
    assert(counts.get("customers").contains(n.toLong), s"got $counts")
    assert(spark.read.parquet(s"$dir/customers").select("id").as[String]
      .collect().toSet == (1 to n).map(i => s"cus_p$i").toSet)
    import scala.jdk.CollectionConverters._
    val distinctParts = partIds.value.asScala.toSet
    assert(distinctParts.size > 1,
      s"fetch ran in ${distinctParts.size} partition(s) — not distributed")
  }

  test("syncDependent heals an interrupted swap of the parent table") {
    val dir = tmpDir("graft_bf_heal")
    Backfill.upsertChunk(spark, dir, TableDefs.customers,
      Seq("""{"id":"cus_1","object":"customer","created":1}"""))
    // a crash between the swap renames left only the retired customers
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(s"$dir/customers"),
      new Path(graft.store.Store.retired(s"$dir/customers"))))
    assert(Backfill.syncDependent(spark, dir, TableDefs.paymentMethods,
      "customers", "customer", new BackfillSpec.ChildFetcher) == 1L)
    assert(spark.read.parquet(s"$dir/payment_methods").count() == 1L)
  }
}

object BackfillSpec {
  /** Serializable map-backed fetcher: backfillParents fetches inside
    * mapPartitions, so test fetchers must ship to executors. The
    * optional accumulator records which partition each retrieve ran in
    * (executor-distribution proof). */
  class MapFetcher(store: Map[String, String],
                   partIds: org.apache.spark.util.CollectionAccumulator[Int] = null)
      extends Backfill.EntityFetcher {
    def list(tdef: TableDef, gte: Option[Long], lt: Option[Long]): Iterator[String] =
      store.valuesIterator.filter(j =>
        j.contains(s""""object":"${tdef.stripeObject}""""))
    def retrieve(tdef: TableDef, id: String): Option[String] = {
      if (partIds != null) {
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) partIds.add(tc.partitionId())
      }
      store.get(id)
    }
  }

  /** One payment method per parent customer (the dependent scan's
    * per-parent listing); nothing else. */
  class ChildFetcher extends Backfill.EntityFetcher {
    def list(tdef: TableDef, gte: Option[Long], lt: Option[Long]): Iterator[String] =
      Iterator.empty
    def retrieve(tdef: TableDef, id: String): Option[String] = None
    override def listForParent(tdef: TableDef, parentCol: String,
                               parentId: String): Seq[String] =
      Seq(s"""{"id":"pm_$parentId","object":"payment_method","customer":"$parentId","type":"card"}""")
  }
}
