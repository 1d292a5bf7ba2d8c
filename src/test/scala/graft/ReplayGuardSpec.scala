package graft

import org.apache.spark.sql.functions._
import graft.store.Store
import graft.streaming.{CorpusIngest, ReplayGuard, VectorIngest}

/** The scale-safe replay guard: correctness of the bloom + bucketed
  * exact layers, and the PLAN contract that makes it O(batch) — a batch
  * with no probable hits never scans the ledger, and a batch with
  * replays scans only the buckets they hash into. */
class ReplayGuardSpec extends SparkSpec {
  import spark.implicits._

  private def ids(xs: Seq[Long]) = xs.toDF("doc_id")

  // plan STRING, not collect(): AQE wraps the tree in an adaptive node
  // whose children are not traversable, but toString prints all scans
  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("replays drop, new ids pass, and the ledger scan is bloom-gated/pruned") {
    val g = tmpDir("graft-guard")
    ReplayGuard.bootstrap(spark, g, nBuckets = 16)
    assert(ReplayGuard.exists(spark, g))

    // first batch: empty guard admits everything
    val b1 = ids(0L until 50L)
    assert(ReplayGuard.filterFresh(b1, "doc_id", g).count() == 50)
    assert(ReplayGuard.record(b1, "doc_id", g) == 50)

    // all-new batch: bloom rejects every row, so the plan must contain
    // NO scan of the ledger at all — the guard's cost is pure O(batch)
    val allNew = ReplayGuard.filterFresh(ids(1000L until 1050L), "doc_id", g)
    assert(!planOf(allNew).contains(s"$g/ids"),
      "an all-new batch must never touch the ledger")
    assert(allNew.count() == 50)

    // half-replayed batch: replays are dropped via the exact layer, and
    // the ledger scan carries a partition filter on the bucket column
    // (reads touched buckets, not the whole ledger)
    val mixed = ReplayGuard.filterFresh(ids(25L until 75L), "doc_id", g)
    assert(mixed.as[Long].collect().sorted.toSeq == (50L until 75L))
    val p = planOf(mixed)
    assert(p.contains(s"$g/ids"), s"expected a ledger scan in: $p")
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters: [") && l.contains("bucket")
        && !l.contains("PartitionFilters: []")),
      s"the replay check must partition-prune the ledger scan: $p")

    // full replay → nothing fresh; recording nothing is a no-op
    assert(ReplayGuard.filterFresh(b1, "doc_id", g).count() == 0)
    assert(ReplayGuard.record(ids(Seq.empty), "doc_id", g) == 0)
  }

  test("ledger compaction: one file per bucket, ids preserved, replays still drop") {
    val g = tmpDir("graft-guard-compact")
    ReplayGuard.bootstrap(spark, g, nBuckets = 8)
    (0 until 5).foreach { i =>
      assert(ReplayGuard.record(ids(i * 10L until i * 10L + 10L), "doc_id", g) == 10)
    }
    val before = ReplayGuard.knownIds(spark, g, "id").as[Long].collect().sorted.toSeq
    val (nBefore, nAfter) = Store.compact(spark, ReplayGuard.idsPath(g))
    // 5 appends over 8 buckets -> well over 8 files before; exactly one
    // per non-empty bucket after
    assert(nBefore > 8, s"expected a pre-compaction file swamp, got $nBefore")
    assert(nAfter <= 8, s"compaction must leave <= one file per bucket, got $nAfter")
    assert(ReplayGuard.knownIds(spark, g, "id").as[Long].collect().sorted.toSeq == before)
    // the guard still rejects replays and admits fresh ids afterwards
    assert(ReplayGuard.filterFresh(ids(0L until 60L), "doc_id", g)
      .as[Long].collect().sorted.toSeq == (50L until 60L))
    // idempotent: a second compaction is a no-op in file count
    assert(Store.compact(spark, ReplayGuard.idsPath(g))._2 == nAfter)
  }

  test("bloom outgrows capacity and rebuilds; lost bloom self-heals from ledger") {
    val g = tmpDir("graft-guard-grow")
    // tiny capacity forces the grow path within a few batches
    ReplayGuard.bootstrap(spark, g, nBuckets = 8, estItems = 64)
    (0 until 4).foreach { i =>
      assert(ReplayGuard.record(ids(i * 100L until i * 100L + 100L), "doc_id", g) == 100)
    }
    // everything ever recorded is still rejected after the rebuilds
    assert(ReplayGuard.filterFresh(
      ids(0L until 400L), "doc_id", g).count() == 0)
    assert(ReplayGuard.filterFresh(
      ids(350L until 450L), "doc_id", g).as[Long].collect().sorted.toSeq
      == (400L until 450L))

    // the sidecars are derivable state: deleting the whole blooms/ dir
    // must not change answers (each bucket rebuilds from its ledger
    // partition on next touch)
    val fs = new org.apache.hadoop.fs.Path(g)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$g/blooms"), true)
    ReplayGuard.invalidateCache(g) // the delete models another process
    assert(ReplayGuard.filterFresh(ids(0L until 400L), "doc_id", g).count() == 0)
    assert(ReplayGuard.filterFresh(ids(500L until 510L), "doc_id", g).count() == 10)
    assert(ReplayGuard.record(ids(500L until 510L), "doc_id", g) == 10)
    assert(ReplayGuard.filterFresh(ids(500L until 510L), "doc_id", g).count() == 0)
  }

  test("sidecars are per-bucket: untouched corruption is never read, touched heals") {
    val g = tmpDir("guard-sidecar") + "/g"
    ReplayGuard.bootstrap(spark, g, nBuckets = 8)
    assert(ReplayGuard.record(ids(0L until 200L), "doc_id", g) == 200)
    val fs = new org.apache.hadoop.fs.Path(g)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$g/blooms")).nonEmpty)
    // corrupt ONE bucket's sidecar (a torn write)
    val victim = fs.listStatus(new org.apache.hadoop.fs.Path(s"$g/blooms"))
      .head.getPath
    val victimBucket = victim.getName.stripSuffix(".bin").toLong
    val out = fs.create(victim, true)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    ReplayGuard.invalidateCache(g) // the torn write models another process
    // a batch hashing AWAY from the victim bucket never opens the torn
    // file — per-bucket loading is the whole point (floorMod == pmod)
    val away = (1000L until 1400L).filter(i =>
      Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          i, org.apache.spark.sql.types.LongType, 42L), 8L) != victimBucket)
      .take(50)
    assert(ReplayGuard.filterFresh(ids(away), "doc_id", g).count() == 50)
    // a batch INTO the victim bucket self-heals it from the ledger
    // partition and still answers exactly
    assert(ReplayGuard.filterFresh(ids(0L until 200L), "doc_id", g).count() == 0)
    assert(ReplayGuard.filterFresh(ids(0L until 250L), "doc_id", g)
      .as[Long].collect().sorted.toSeq == (200L until 250L))
  }

  test("a v1 guard (monolithic bloom.bin) migrates lazily to sidecars") {
    val g = tmpDir("guard-v1") + "/g"
    ReplayGuard.bootstrap(spark, g, nBuckets = 8)
    assert(ReplayGuard.record(ids(0L until 100L), "doc_id", g) == 100)
    val fs = new org.apache.hadoop.fs.Path(g)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fabricate the v1 state: monolith present, no sidecars (the state a
    // pre-sidecar PROCESS left behind — so drop this process's cache)
    fs.delete(new org.apache.hadoop.fs.Path(s"$g/blooms"), true)
    ReplayGuard.invalidateCache(g)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$g/bloom.bin"), true)
    try out.write(Array.fill[Byte](64)(0)) finally out.close()
    // first touch drops the monolith, rebuilds touched sidecars from the
    // ledger, and answers are unchanged
    assert(ReplayGuard.filterFresh(ids(0L until 120L), "doc_id", g)
      .as[Long].collect().sorted.toSeq == (100L until 120L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$g/bloom.bin")),
      "the stale v1 monolith must be deleted on first touch")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$g/blooms")))
  }

  test("orphan detection and eviction re-admit a dropped id (both ingests)") {
    // CorpusIngest: crash window = ledger + sigs written, corpus append
    // never ran. Simulate by recording straight into the guard + store.
    val root = tmpDir("graft-guard-rec")
    val corpusDir = s"$root/corpus"; val sigDir = s"$root/sigs"
    val docs = (0L until 20L).map(i =>
      (i, s"document number $i with some distinct words ${i * 31}")).toDF("doc_id", "text")
    assert(CorpusIngest.processBatch(docs, corpusDir, sigDir) == 20)
    // orphan 777: ledgered + banded + signed, absent from the corpus —
    // the exact state a kill after appendAdmitted leaves behind
    val orphanDoc = Seq((777L, "a crashed admission that never landed")).toDF("doc_id", "text")
    ReplayGuard.record(orphanDoc.select("doc_id"), "doc_id", s"${sigDir}_guard")
    CorpusIngest.appendAdmitted(
      graft.llm.Dedup.minHashSignatures(orphanDoc, 3, 32), sigDir)
    // its re-send is silently dropped — exactly the hazard reconcile closes
    assert(CorpusIngest.processBatch(orphanDoc, corpusDir, sigDir) == 0)
    assert(CorpusIngest.reconcile(spark, corpusDir, sigDir) == Seq(777L))
    assert(CorpusIngest.reconcile(spark, corpusDir, sigDir, evict = true) == Seq(777L))
    assert(CorpusIngest.processBatch(orphanDoc, corpusDir, sigDir) == 1)
    assert(CorpusIngest.reconcile(spark, corpusDir, sigDir).isEmpty)
    assert(spark.read.parquet(corpusDir).filter(col("doc_id") === 777L).count() == 1)

    // VectorIngest: same window, vec_id ledgered but never indexed
    val vroot = tmpDir("graft-guard-vec")
    val emb = (0L until 32L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 2.0 + d).toFloat))).toDF("vec_id", "embedding")
    VectorIngest.trainCentroids(emb, vroot, kCells = 4, iters = 2, dim = 8)
    assert(VectorIngest.processBatch(emb, vroot) == 32)
    val lost = Seq((99L, Array.tabulate(8)(d => math.cos(d * 1.1).toFloat)))
      .toDF("vec_id", "embedding")
    ReplayGuard.record(lost.select("vec_id"), "vec_id", s"$vroot/guard")
    assert(VectorIngest.processBatch(lost, vroot) == 0) // dropped
    assert(VectorIngest.reconcile(spark, vroot) == Seq(99L))
    assert(VectorIngest.reconcile(spark, vroot, evict = true) == Seq(99L))
    assert(VectorIngest.processBatch(lost, vroot) == 1) // re-admitted
    assert(VectorIngest.reconcile(spark, vroot).isEmpty)
  }

  test("a pre-guard store is migrated on first touch, replays still rejected") {
    // a cells store written by the old code path (no guard dir)
    val root = tmpDir("graft-guard-mig")
    val emb = (0L until 48L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 1.7 + d).toFloat))).toDF("vec_id", "embedding")
    VectorIngest.trainCentroids(emb, root, kCells = 4, iters = 2, dim = 8)
    assert(VectorIngest.processBatch(emb.filter(col("vec_id") < 24), root) == 24)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/guard"), true)
    // next batch bootstraps the guard FROM the store: the 24 already-
    // indexed ids must still be rejected, the 24 new ones admitted
    assert(VectorIngest.processBatch(emb, root) == 24)
    assert(spark.read.parquet(VectorIngest.cellsPath(root)).select("vec_id").distinct().count() == 48)
  }

  test("crash-window recovery: bloom committed but ids/ missing admits the batch") {
    val g = tmpDir("guard-window") + "/g"
    ReplayGuard.bootstrap(spark, g)
    assert(ReplayGuard.record(ids(Seq(1L, 2L, 3L)), "doc_id", g) == 3L)
    // simulate the documented crash ordering taken one step further:
    // bloom persisted, the ledger append lost entirely
    val fs = new org.apache.hadoop.fs.Path(g)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$g/ids"), true)
    // the ledger is the truth and it is empty: the probable hits are
    // bloom-only artifacts — the whole batch is admitted, no crash
    val fresh = ReplayGuard.filterFresh(ids(Seq(1L, 2L, 3L, 4L)), "doc_id", g)
    assert(fresh.count() == 4L)
  }

  test("evicting every ledger id deletes ids/ and later reads survive") {
    val g = tmpDir("guard-evict-all") + "/g"
    ReplayGuard.bootstrap(spark, g)
    assert(ReplayGuard.record(ids(Seq(10L, 11L)), "doc_id", g) == 2L)
    ReplayGuard.evict(spark, g, ids(Seq(10L, 11L)), "doc_id")
    val fs = new org.apache.hadoop.fs.Path(g)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an empty partitioned rewrite would leave a schema-less husk that
    // kills every later read; full eviction must delete the dir
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$g/ids")))
    assert(ReplayGuard.knownIds(spark, g, "doc_id").count() == 0L)
    // the evicted ids take the probable-hit path and are re-admitted
    assert(ReplayGuard.filterFresh(ids(Seq(10L, 11L)), "doc_id", g)
      .count() == 2L)
  }

  test("driver and aggregate bloom filters stay mergeable past the session caps") {
    // BloomFilterAggregate Math.min-clamps against the runtime-bloom
    // caps; the guard clamps its driver-side filters identically, so
    // est above the cap degrades fpp instead of throwing
    // IncompatibleMergeException on the first record()
    val prevItems = spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems")
    val prevBits = spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", 1000L)
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", 8192L)
      val g = tmpDir("guard-clamp") + "/g"
      ReplayGuard.bootstrap(spark, g, estItems = 1000000L) // far past the cap
      assert(ReplayGuard.record(ids((1L to 50L)), "doc_id", g) == 50L)
      assert(ReplayGuard.record(ids((51L to 80L)), "doc_id", g) == 30L)
      // replay still rejected through the clamped bloom + exact ledger
      assert(ReplayGuard.filterFresh(ids(Seq(1L, 60L, 999L)), "doc_id", g)
        .as[Long].collect().toSet == Set(999L))
    } finally {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", prevItems)
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", prevBits)
    }
  }
}
