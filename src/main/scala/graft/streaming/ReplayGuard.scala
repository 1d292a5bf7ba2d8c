package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.BloomFns
import graft.store.Store

/** Scale-safe at-least-once replay guard — the admission ledger both
  * streaming ingests ([[CorpusIngest]], [[VectorIngest]]) consult per
  * micro-batch, built so the guard's cost is bounded by the BATCH, not
  * by the total history of ids ever admitted.
  *
  * The naive guard (anti-join each batch against the full persisted id
  * set) is O(index) per micro-batch: at 10¹¹ admitted ids the guard
  * scan dwarfs the batch work — the exact anti-pattern the incremental
  * suite (q93/q96/q101) exists to kill. This guard replaces it with two
  * layers:
  *
  *   - `blooms/K.bin` — PER-BUCKET bloom sidecars, one per ledger
  *     bucket, each probed as a literal predicate on the rows that hash
  *     into it: "definitely new" rows (the vast majority of a healthy
  *     stream) never touch the ledger at all. No false negatives, so a
  *     miss is PROOF of novelty; false positives fall through to the
  *     exact layer. Only the buckets a batch touches are loaded (and on
  *     record(), rewritten), so driver-resident bloom bytes are bounded
  *     by touched-buckets × sidecar size — never by the total id
  *     history (the monolithic predecessor held one filter over ALL
  *     admitted ids: ~1.2 GB at 10⁹; past 10¹⁰ raise `nBuckets` and the
  *     per-sidecar size stays flat). Each sidecar grows independently —
  *     when its bucket's count outgrows its capacity it alone is
  *     rebuilt ~2× larger from that ledger PARTITION, an O(bucket)
  *     event, never an O(ledger) one. A lost or corrupt sidecar
  *     self-heals the same way.
  *   - `ids/bucket=K/` — the exact ledger, one `id` column partitioned
  *     by `pmod(xxhash64(id), nBuckets)`: probable hits (true replays +
  *     bloom false positives) are verified by an anti-join whose ledger
  *     side is partition-pruned to the buckets those few ids hash into,
  *     so the exact scan reads ~hits/nBuckets of the ledger, not all of
  *     it. A batch with no probable hits skips the ledger entirely —
  *     the plan contains no ledger scan (ReplayGuardSpec asserts both).
  *
  * A v1 guard (single `bloom.bin` over everything) migrates lazily: the
  * stale monolith is deleted on first touch and each bucket's sidecar
  * rebuilds from its ledger partition the first time a batch probes it.
  *
  * Crash ordering contract (the reason this is SAFE to put in front of
  * fail-closed ingests): [[record]] writes the bloom BEFORE appending
  * ids, and callers record the guard BEFORE appending payload to their
  * stores. The bloom therefore always over-approximates the ledger, and
  * the ledger always over-approximates the store — every crash window
  * degrades to either a spurious probable-hit (caught by the exact
  * layer) or a ledgered-but-unstored orphan, which [[orphans]] detects
  * and [[evict]] clears so a corrected re-send can be admitted. A false
  * NEGATIVE (duplicate admission) is impossible in every window. On a
  * transactional table format guard + store appends would be one commit
  * and the orphan window disappears.
  *
  * Mirrors the reference's own dedup-before-fetch instinct
  * (sync-engine/src/stripeSync.ts:38-46) applied to its at-least-once
  * delivery model (fastify-app/src/routes/webhooks.ts:10-17).
  *
  * Design envelope: ids are LONGs; driver-resident bloom bytes are
  * touched-buckets × sidecar size per batch (at 1 % fpp a sidecar is
  * ~1.2 MB per 10⁶ ids in its bucket — size `nBuckets` so buckets stay
  * ~10⁶-10⁷ ids and both the sidecars and the pruned exact scans stay
  * small at any total history). The cost of that boundedness is one
  * extra small driver job per filterFresh (the touched-bucket collect
  * that decides which sidecars to load).
  */
object ReplayGuard {

  private val Fpp = 0.01
  /** The exact ledger; compact with [[Store.compact]]. */
  private[graft] def idsPath(g: String) = s"$g/ids"
  private def bloomPath(g: String) = s"$g/bloom.bin" // v1 monolith (stale)
  private def sidecarPath(g: String, bucket: Long) = s"$g/blooms/$bucket.bin"
  private def metaPath(g: String) = s"$g/meta"

  /** Same formula the sketch library uses: pinning numBits (rather than
    * trusting session conf defaults) makes every filter built for this
    * guard merge-compatible by construction. */
  private def numBits(estItems: Long): Long =
    math.max(64L,
      math.ceil(-estItems * math.log(Fpp) / (math.log(2) * math.log(2))).toLong)

  /** The (estItems, numBits) actually USED for every filter this guard
    * builds — BOTH construction paths clamped to the session's
    * runtime-bloom caps. Spark's BloomFilterAggregate Math.min-clamps
    * its arguments against `spark.sql.optimizer.runtime.bloomFilter.
    * {maxNumItems,maxNumBits}` (defaults 4M / 64 Mbit); a driver-side
    * BloomFilter.create with UNCLAMPED parameters would then be
    * merge-INCOMPATIBLE with the aggregate's batch filters
    * (IncompatibleMergeException on the first record() past the cap).
    * Clamping both sides identically keeps every filter mergeable by
    * construction; past the cap the fpp degrades gracefully instead of
    * crashing (raise the caps in session conf — GraftSession does — to
    * extend the exact envelope). */
  private def bloomParams(spark: SparkSession, estItems: Long): (Long, Long) = {
    def conf(k: String, dflt: Long): Long =
      try spark.conf.get(k).toLong catch { case _: Exception => dflt }
    val maxItems =
      conf("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", 4000000L)
    val maxBits =
      conf("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", 67108864L)
    val e = math.min(estItems, maxItems)
    (e, math.min(numBits(e), maxBits))
  }

  /** The guard exists once [[bootstrap]] has committed its meta file. */
  def exists(spark: SparkSession, guardDir: String): Boolean =
    Store.exists(spark, metaPath(guardDir))

  // meta: nBuckets + the capacity FLOOR (rebuilds never shrink below it).
  // Written once, atomically (tmp + rename) — exists() keys off it.
  private def writeMeta(spark: SparkSession, guardDir: String,
                        nBuckets: Int, estItemsFloor: Long): Unit =
    Store.writeMeta(spark, metaPath(guardDir)) { out =>
      out.writeInt(nBuckets); out.writeLong(estItemsFloor) }

  private def readMeta(spark: SparkSession, guardDir: String): (Int, Long) =
    Store.readMeta(spark, metaPath(guardDir))(in => (in.readInt(), in.readLong()))

  // Driver-side sidecar cache, write-through and LRU-bounded: a
  // long-running ingest touches the same buckets batch after batch, and
  // re-reading every touched sidecar file per batch was measurable at
  // bench scale (hundreds of small reads per micro-batch). The cache is
  // PROCESS state under the guard's single-writer contract (one writer
  // per guardDir — the assumption every compactor here documents):
  // entries are updated on every successful sidecar commit, so in-
  // process they never under-approximate the ledger; eviction is only a
  // cache miss, never a correctness event (the file is the truth). A
  // test (or operator) that mutates guard files EXTERNALLY is modeling
  // a different process and must call [[invalidateCache]] — the
  // moral equivalent of the restart it simulates.
  private val CacheMaxEntries = 4096
  private val sidecarCache: java.util.Map[(String, Long), (Long, Long, Array[Byte])] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long), (Long, Long, Array[Byte])](
          256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long), (Long, Long, Array[Byte])]): Boolean =
          size() > CacheMaxEntries
      })

  /** Drop every cached sidecar for `guardDir` — call after mutating the
    * guard's files from OUTSIDE this process's record() path (crash
    * simulations, manual surgery). Equivalent to a process restart. */
  private[graft] def invalidateCache(guardDir: String): Unit =
    sidecarCache.synchronized {
      val it = sidecarCache.keySet().iterator()
      while (it.hasNext) if (it.next()._1 == guardDir) it.remove()
    }

  // blooms/K.bin: capacity, applied-id count, sketch bytes for ONE
  // ledger bucket, rewritten per touched bucket as a Store meta file; a
  // crash (or corruption) that loses one is healed by rebuilding it
  // from its ledger PARTITION — every sidecar is derivable,
  // bucket-locally.
  private def writeSidecar(spark: SparkSession, guardDir: String, bucket: Long,
                           estItems: Long, count: Long, bytes: Array[Byte]): Unit = {
    Store.writeMeta(spark, sidecarPath(guardDir, bucket)) { out =>
      out.writeLong(estItems); out.writeLong(count)
      out.writeInt(bytes.length); out.write(bytes) }
    sidecarCache.put((guardDir, bucket), (estItems, count, bytes))
  }

  // None on missing OR unparseable (a torn write heals like a lost one)
  private def readSidecar(spark: SparkSession, guardDir: String,
                          bucket: Long): Option[(Long, Long, Array[Byte])] = {
    val cached = sidecarCache.get((guardDir, bucket))
    if (cached != null) return Some(cached)
    val p = sidecarPath(guardDir, bucket)
    if (!Store.exists(spark, p)) None
    else try {
      val side = Store.readMeta(spark, p) { in =>
        val est = in.readLong(); val count = in.readLong()
        val bytes = new Array[Byte](in.readInt())
        in.readFully(bytes)
        (est, count, bytes)
      }
      sidecarCache.put((guardDir, bucket), side)
      Some(side)
    } catch { case _: java.io.IOException | _: NegativeArraySizeException => None }
  }

  private def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  private def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  // a v1 guard's monolithic bloom is stale state under the sidecar
  // layout: delete on first touch; sidecars rebuild lazily per bucket
  private def dropV1Monolith(spark: SparkSession, guardDir: String): Unit = {
    val fs = Store.fs(spark, guardDir)
    val p = new Path(bloomPath(guardDir))
    if (fs.exists(p)) fs.delete(p, false)
  }

  // ledger buckets that exist on disk — the truth a missing sidecar is
  // judged against
  private def ledgerBuckets(spark: SparkSession, guardDir: String): Set[Long] =
    Store.partitions(spark, idsPath(guardDir), "bucket")

  /** Rebuild ONE bucket's sidecar from its ledger partition — the
    * self-heal (sidecar lost/corrupt) and grow (bucket count outgrew
    * its capacity) path. O(bucket), never O(ledger); the partition
    * filter below prunes the scan to the one bucket directory. */
  private def rebuildSidecar(spark: SparkSession, guardDir: String,
                             bucket: Long, atLeast: Long): (Long, Long, Array[Byte]) = {
    val (nBuckets, floor) = readMeta(spark, guardDir)
    val part =
      if (Store.exists(spark, idsPath(guardDir)))
        spark.read.parquet(idsPath(guardDir))
          .filter(col("bucket") === lit(bucket)).select(col("id"))
      else {
        import spark.implicits._
        spark.emptyDataset[Long].toDF("id")
      }
    val bucketFloor = math.max(64L, floor / nBuckets)
    val row = part.agg(count(lit(1))).head()
    val n = row.getLong(0)
    var est = bucketFloor
    while (est < math.max(n * 2, atLeast)) est *= 2
    val (e, bits) = bloomParams(spark, est)
    val bytes =
      if (n == 0) serialize(BloomFilter.create(e, bits))
      else {
        val r = part.agg(
          BloomFns.bloom_filter_agg(xxhash64(col("id")), e, bits)).head()
        r.getAs[Array[Byte]](0)
      }
    writeSidecar(spark, guardDir, bucket, est, n, bytes)
    (est, n, bytes)
  }

  // sidecar for one touched bucket: present → read; missing/corrupt but
  // ledgered → rebuild from the partition; never ledgered → None (every
  // id hashing there is new by construction)
  private def loadOrHealSidecar(spark: SparkSession, guardDir: String,
                                bucket: Long, ledgered: Set[Long]
                               ): Option[(Long, Long, Array[Byte])] =
    readSidecar(spark, guardDir, bucket).orElse {
      if (ledgered.contains(bucket))
        Some(rebuildSidecar(spark, guardDir, bucket, atLeast = 1L))
      else None
    }

  /** Create an EMPTY guard. To migrate an existing store, follow with
    * `record(existingIds, …)` — a one-time O(store) seed. */
  def bootstrap(spark: SparkSession, guardDir: String, nBuckets: Int = 256,
                estItems: Long = 1L << 20): Unit = {
    require(!exists(spark, guardDir), s"guard already exists at $guardDir")
    require(nBuckets > 0 && estItems > 0, "nBuckets and estItems must be positive")
    invalidateCache(guardDir) // a prior guard may have lived at this path
    writeMeta(spark, guardDir, nBuckets, estItems)
  }

  private def bucketOf(idCol: String, nBuckets: Int) =
    pmod(xxhash64(col(idCol)), lit(nBuckets.toLong))

  /** Split `batch` down to the rows whose id was never recorded.
    *
    * Plan shape (the 100 TB contract): the batch's distinct buckets are
    * collected (one small job) and ONLY those buckets' sidecars load
    * driver-side; rows their bloom rejects are new by proof and never
    * touch the ledger; rows it flags are verified by an anti-join
    * against ONLY the ledger buckets their ids hash into (a literal IN
    * over partition values → partition-pruned scan). A batch with zero
    * probable hits yields a plan with NO ledger scan; a batch touching
    * only never-recorded buckets loads no sidecar at all. */
  def filterFresh(batch: DataFrame, idCol: String, guardDir: String): DataFrame = {
    val spark = batch.sparkSession
    Store.heal(spark, idsPath(guardDir))
    dropV1Monolith(spark, guardDir)
    val (nBuckets, _) = readMeta(spark, guardDir)
    val bucketExpr = bucketOf(idCol, nBuckets)
    val touched = batch.select(bucketExpr.as("bucket"))
      .distinct().collect().map(_.getLong(0)).sorted
    val ledgered = ledgerBuckets(spark, guardDir)
    val sidecars: Map[Long, Array[Byte]] = touched.iterator.flatMap(b =>
      loadOrHealSidecar(spark, guardDir, b, ledgered)
        .collect { case (_, cnt, bytes) if cnt > 0 => b -> bytes }).toMap
    if (sidecars.isEmpty) return batch // nothing recorded where this batch lands
    // per-bucket probe: each row tests ONLY its own bucket's filter via
    // the O(1)-per-row map expression (missing sidecar ⇒ bucket never
    // recorded ⇒ new by proof) — see [[graft.functions.BucketedBloom]]
    // for why this is not a literal CASE WHEN chain
    val probe = graft.functions.BucketedBloom.might_contain(
      bucketExpr, xxhash64(col(idCol)), sidecars)
    val definitelyNew = batch.filter(!probe)
    // probable hits = true replays + bloom false positives: tiny on a
    // healthy stream. Their buckets (≤ nBuckets values) become a literal
    // partition predicate — collected, like VectorIngest.ann's probed
    // cells, so the pruning is static and provable in the plan.
    val buckets = batch.filter(probe)
      .select(bucketExpr.as("bucket"))
      .distinct().collect().map(_.getLong(0)).sorted
    if (buckets.isEmpty) definitelyNew
    else if (!Store.exists(spark, idsPath(guardDir)))
      // the documented crash window (sidecars committed, ledger append
      // never ran) can leave probable hits with NO ids/ dir at all; the
      // ledger is the truth and it is empty, so every probable hit is
      // a bloom-only artifact — admit the whole batch instead of
      // crashing on a nonexistent path on every retry
      batch
    else {
      val ledger = spark.read.parquet(idsPath(guardDir))
        .filter(col("bucket").isin(buckets.toIndexedSeq.map(_.asInstanceOf[Any]): _*))
        .select(col("id").as(idCol))
      definitelyNew.union(
        batch.filter(probe).join(ledger, Seq(idCol), "left_anti"))
    }
  }

  /** Record `ids` as admitted; returns how many there were. Sidecars are
    * committed BEFORE the ledger append: each crash window leaves every
    * bloom over-approximating its ledger partition, never under.
    *
    * Per batch: one per-bucket count aggregate, then one bloom
    * aggregate per CAPACITY CLASS (buckets whose sidecars share
    * (estItems, numBits) — capacities are powers of two, so classes are
    * few) building all those buckets' batch filters in a single job;
    * each touched sidecar merges and rewrites independently, and a
    * bucket that outgrows its capacity rebuilds alone from its ledger
    * partition — O(bucket), amortized O(1)/batch. */
  def record(ids: DataFrame, idCol: String, guardDir: String): Long = {
    val spark = ids.sparkSession
    Store.heal(spark, idsPath(guardDir))
    dropV1Monolith(spark, guardDir)
    val (nBuckets, floor) = readMeta(spark, guardDir)
    val bucketExpr = bucketOf(idCol, nBuckets)
    // FUSED first pass (round 16 — on composed lifecycles every
    // per-batch job is wall): the per-bucket counts AND the batch
    // blooms of every CACHE-KNOWN bucket ride ONE aggregate job — the
    // former shape paid a count job, then one bloom job per capacity
    // class. A bucket's filter params are deterministic from its
    // sidecar's capacity, so for buckets whose sidecar is already in
    // the process cache (steady state: record() writes through, so
    // every bucket this writer ever touched) the bloom can be built
    // before the sidecar lookup. Buckets NOT in the cache aggregate
    // count-only here (NULL bloom) and take the per-class bloom job
    // below, exactly the old path — the cache is never read from disk
    // speculatively, so the driver-resident-bytes envelope (touched
    // buckets only) is unchanged.
    val cachedParams: Map[Long, (Long, Long)] =
      sidecarCache.synchronized {
        val it = sidecarCache.entrySet().iterator()
        val m = scala.collection.mutable.Map.empty[Long, (Long, Long)]
        while (it.hasNext) {
          val e = it.next()
          if (e.getKey._1 == guardDir)
            m(e.getKey._2) = bloomParams(spark, e.getValue._1)
        }
        m.toMap
      }
    val byClass: Map[(Long, Long), Seq[Long]] =
      cachedParams.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    val unknownBranch = {
      val known = cachedParams.keySet.toSeq
      val base = if (known.isEmpty) ids
        else ids.filter(!bucketExpr.isin(known.map(_.asInstanceOf[Any]): _*))
      base.groupBy(bucketExpr.as("bucket"))
        .agg(count(lit(1)).as("n"))
        .select(col("bucket"), col("n"), lit(null).cast("binary").as("bf"))
    }
    val fused = byClass.foldLeft(unknownBranch) { case (acc, ((e, bits), bs)) =>
      acc.unionAll(
        ids.filter(bucketExpr.isin(bs.map(_.asInstanceOf[Any]): _*))
          .groupBy(bucketExpr.as("bucket"))
          .agg(count(lit(1)).as("n"),
            BloomFns.bloom_filter_agg(xxhash64(col(idCol)), e, bits).as("bf")))
    }
    val firstPass = fused.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.getAs[Array[Byte]](2))))
      .sortBy(_._1)
    val perBucket = firstPass.map { case (b, (nb, _)) => b -> nb }
    val n = perBucket.map(_._2).sum
    if (n == 0L) return 0L
    val ledgered = ledgerBuckets(spark, guardDir)
    // ensure capacity per touched bucket (growing rebuilds fold the
    // still-unappended batch count into the new size), then group the
    // REMAINING buckets — uncached, or grown past the params their
    // fused bloom was built at — by filter params for the residual
    // batch-bloom job(s)
    val prepared: Array[(Long, Long, (Long, Long, Array[Byte]), Option[Array[Byte]])] =
      firstPass.map { case (b, (nb, fusedBloom)) =>
        val side = loadOrHealSidecar(spark, guardDir, b, ledgered)
          .getOrElse {
            var est = math.max(64L, floor / nBuckets)
            while (est < nb * 2) est *= 2
            val (e, bits) = bloomParams(spark, est)
            (est, 0L, serialize(BloomFilter.create(e, bits)))
          }
        val grown =
          if (side._2 + nb > side._1)
            rebuildSidecar(spark, guardDir, b, atLeast = (side._2 + nb) * 2)
          else side
        // the fused bloom is usable only if the (possibly grown)
        // sidecar's params still match the class it was built at
        val usable = fusedBloom.filter(_ =>
          cachedParams.get(b).contains(bloomParams(spark, grown._1)))
        (b, nb, grown, usable)
      }
    val residual = prepared.filter(_._4.isEmpty)
    val byParams = residual.groupBy { case (_, _, (est, _, _), _) =>
      bloomParams(spark, est)
    }
    val residualBlooms: Map[Long, Array[Byte]] = byParams.flatMap {
      case ((e, bits), group) =>
        val bucketSet = group.map(_._1).toSet
        ids.filter(bucketExpr.isin(bucketSet.toSeq.map(_.asInstanceOf[Any]): _*))
          .groupBy(bucketExpr.as("bucket"))
          .agg(BloomFns.bloom_filter_agg(xxhash64(col(idCol)), e, bits).as("bf"))
          .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    }
    prepared.foreach { case (b, nb, (est, cnt, bytes), fusedBloom) =>
      val merged = deserialize(bytes)
      fusedBloom.orElse(residualBlooms.get(b))
        .foreach(bb => merged.mergeInPlace(deserialize(bb)))
      writeSidecar(spark, guardDir, b, est, cnt + nb, serialize(merged))
    }
    // one file per touched bucket per batch ([[Store.append]]; the
    // per-task scatter it prevents measured ~4k files per batch at
    // bench scale)
    Store.append(ids.select(col(idCol).as("id"), bucketOf(idCol, nBuckets).as("bucket")),
      idsPath(guardDir), "bucket")
    n
  }

  /** Every recorded id (the exact ledger), for reconciliation. */
  def knownIds(spark: SparkSession, guardDir: String, as: String): DataFrame =
    Store.read(spark, idsPath(guardDir)).map(_.select(col("id").as(as)))
      .getOrElse {
        import spark.implicits._
        spark.emptyDataset[Long].toDF(as)
      }

  /** Ledgered-but-unstored ids: recorded here, absent from the caller's
    * store — the fail-closed crash window (guard committed, payload
    * append never ran). These ids are PERMANENTLY dropped until evicted:
    * the reconciliation hook for that silent-drop hazard. */
  def orphans(spark: SparkSession, guardDir: String, storeIds: DataFrame,
              idCol: String): DataFrame =
    knownIds(spark, guardDir, idCol)
      .join(storeIds.select(idCol).dropDuplicates(idCol), Seq(idCol), "left_anti")

  /** Remove ids from the exact ledger ([[Store.evict]]) so a corrected
    * re-send can be admitted. The bloom is deliberately NOT rebuilt: it
    * may only over-approximate, so the evicted id simply takes the
    * probable-hit path and passes the exact check. */
  def evict(spark: SparkSession, guardDir: String, victims: DataFrame,
            idCol: String): Unit =
    Store.evict(spark, idsPath(guardDir), victims.select(idCol), "id")
}
