package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.Store

/** Persisted LSH BAND store — the candidate-generation artifact that
  * makes incremental text dedup O(batch) instead of O(corpus) per
  * micro-batch.
  *
  * Before this store existed, every [[CorpusIngest]] batch re-read the
  * FULL signature store and re-hashed all of its bands just to find
  * which stored documents share a band with the incoming batch — an
  * O(all-signatures-ever-admitted) scan + band-hash compute per batch,
  * the same history-sized-per-batch pattern [[ReplayGuard]] was built
  * to kill for replay admission (and the reference's dedup-before-fetch
  * instinct, sync-engine/src/stripeSync.ts:38-46, applied at corpus
  * scale). Here the bands are hashed ONCE, at admission, and persisted
  * as (doc_id, band, band_hash) partitioned by
  * `bucket = pmod(band_hash, nBuckets)`:
  *
  *   - a batch's band hashes map to ≤ min(batch-bands, nBuckets) bucket
  *     values, collected driver-side and intersected with the store's
  *     actual partition listing — the store read is partition-pruned to
  *     exactly the buckets the batch touches, and a batch whose buckets
  *     have no store partitions yields a plan with NO store scan at all
  *     (the [[ReplayGuard.filterFresh]] contract, band-keyed);
  *   - the per-batch band-hash recompute over the store is gone — bands
  *     are read back, never re-derived.
  *
  * Layout mirrors [[ReplayGuard]]: `<dir>/meta` (nBuckets + the banding
  * parameters, written once, atomically — partition pruning silently
  * breaks if two writers disagree on any of them) and
  * `<dir>/data/bucket=K/` parquet. Null band hashes (short docs whose
  * signatures are NULL) are dropped at append: a null key never
  * equi-joins, so the row would be dead weight in every later scan.
  */
object BandStore {

  /** The band store location beside a signature store. */
  def dirOf(sigDir: String): String = s"${sigDir}_bands"

  /** The bucketed band rows; compact with [[Store.compact]]. */
  private[graft] def dataPath(dir: String) = s"$dir/data"
  private def metaPath(dir: String) = s"$dir/meta"

  /** The store exists once [[bootstrap]] has committed its meta file. */
  def exists(spark: SparkSession, dir: String): Boolean =
    Store.exists(spark, metaPath(dir))

  /** Create an empty store, fixing the layout contract: `nBuckets`
    * (partition count the pruning depends on) and the banding
    * parameters (`numPerms`, `bands`) every writer must agree on. */
  def bootstrap(spark: SparkSession, dir: String, nBuckets: Int,
                numPerms: Int, bands: Int): Unit = {
    require(!exists(spark, dir), s"band store already exists at $dir")
    require(nBuckets > 0 && numPerms > 0 && bands > 0 && numPerms % bands == 0,
      s"bad band-store params: nBuckets=$nBuckets numPerms=$numPerms bands=$bands")
    Store.writeMeta(spark, metaPath(dir)) { out =>
      out.writeInt(nBuckets); out.writeInt(numPerms); out.writeInt(bands) }
  }

  /** (nBuckets, numPerms, bands) this store was bootstrapped with. */
  def meta(spark: SparkSession, dir: String): (Int, Int, Int) =
    Store.readMeta(spark, metaPath(dir))(in => (in.readInt(), in.readInt(), in.readInt()))

  private def bucketCol(nBuckets: Int) =
    pmod(col("band_hash"), lit(nBuckets.toLong))

  /** Append banded rows (doc_id, band, band_hash) — one file per
    * touched bucket per batch ([[Store.append]]), null band hashes
    * dropped. */
  def append(bandsDf: DataFrame, dir: String): Unit = {
    val (nBuckets, _, _) = meta(bandsDf.sparkSession, dir)
    Store.append(bandsDf.filter(col("band_hash").isNotNull)
      .select(col("doc_id"), col("band"), col("band_hash"),
        bucketCol(nBuckets).as("bucket")), dataPath(dir), "bucket")
  }

  /** The store side of the incremental candidate join, pruned to the
    * buckets `batchBands` touches: collect the batch's ≤ nBuckets
    * distinct bucket values (one small driver job — pass a staged
    * frame), intersect with the store's partition listing, and read
    * only the hit partitions. None ⇔ no bucket overlap (empty store
    * included): the caller skips the store join entirely and the batch
    * plan carries NO store scan. */
  def prunedFor(spark: SparkSession, dir: String,
                batchBands: DataFrame): Option[DataFrame] = {
    Store.heal(spark, dataPath(dir))
    val (nBuckets, _, _) = meta(spark, dir)
    val existing = Store.partitions(spark, dataPath(dir), "bucket")
    if (existing.isEmpty) return None
    val touched = batchBands
      .select(bucketCol(nBuckets).as("bucket"))
      .distinct().collect().map(_.getLong(0)).toSet
    val hit = (touched intersect existing).toSeq.sorted
    if (hit.isEmpty) None
    else Store.read(spark, dataPath(dir)).map(_
      .filter(col("bucket").isin(hit.map(_.asInstanceOf[Any]): _*))
      .select("doc_id", "band", "band_hash"))
  }

  /** Remove every band row of the victim doc_ids ([[Store.evict]]) —
    * the eviction half of [[CorpusIngest.reconcile]]'s orphan cleanup. */
  def evict(spark: SparkSession, dir: String, victims: DataFrame,
            idCol: String): Unit =
    Store.evict(spark, dataPath(dir), victims.select(idCol), "doc_id")
}
