package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.WallClock
import graft.model.{TableDef, TableDefs}
import graft.store.Store

/** Backfill scans + recursive FK backfill (SURVEY §3.2, S3/S4/S7 + J2).
  *
  * The entity source is pluggable ([[EntityFetcher]]): the reference
  * iterates Stripe `list({limit:100})` cursors; tests use a fixture-
  * backed fetcher. Page iteration happens driver-side (it is a single
  * remote cursor, exactly like the reference), but rows land in
  * DataFrames chunk-by-chunk and everything downstream — projection,
  * LWW, guarded merge, child normalization — is the one shared pipeline.
  * For a 100 TB backfill the unit of parallelism is the `created`-range
  * window (the reference's own large-account guidance: day-window
  * loops), many windows scanned concurrently.
  */
object Backfill {

  /** Pluggable entity source (Stripe API stand-in; zero-egress here).
    * Serializable: the dependent-scan and revalidation paths call it from
    * executor partitions (mapPartitions), the reference's fan-out model
    * (stripeSync.ts:929-946). */
  trait EntityFetcher extends Serializable {
    /** Raw entity JSON stream for a table scan, optionally bounded by a
      * created range (P5 pushdown: the predicate goes to the source). */
    def list(tdef: TableDef, createdGte: Option[Long] = None,
             createdLt: Option[Long] = None): Iterator[String]
    /** Point lookup by id (S6). */
    def retrieve(tdef: TableDef, id: String): Option[String]
    /** Child listing keyed by a parent id — payment methods per customer
      * (S5, stripeSync.ts:912-949), checkout line items per session
      * (A6, :1511-1523). */
    def listForParent(tdef: TableDef, parentCol: String, parentId: String): Seq[String] =
      Seq.empty
    /** Full replacement JSON for a truncated embedded list (A7,
      * expandEntity stripeSync.ts:1739-1760): given the owning entity id
      * and the list field, return the complete list object
      * (`{"object":"list","data":[...],"has_more":false}`). */
    def expandList(tdef: TableDef, entityId: String, listField: String): Option[String] =
      None
  }

  /** S5 + P6 + A8: fan-out dependent scan — payment methods cannot be
    * listed globally, so scan live customers (deleted <> true,
    * stripeSync.ts:917-919) and fetch per customer id, `width` ids per
    * partition (reference: chunks of 10 in parallel, :929-931). The
    * fetch runs in mapPartitions: parallelism = partitions, exactly the
    * knob a 1000-executor cluster scales with. */
  def syncDependent(spark: SparkSession, tablesDir: String, child: TableDef,
                    parentTable: String, fkCol: String, fetcher: EntityFetcher,
                    width: Int = 10): Long = {
    import spark.implicits._
    // through Store: a parent table left only in its retired copy by
    // an interrupted swap is healed first — taken for absent, the scan
    // would sync no children and report success
    val parents = Store.read(spark, s"$tablesDir/$parentTable") match {
      case Some(stored) => stored
      case None => return 0L
    }
    val live =
      if (parents.columns.contains("deleted"))
        parents.filter(!coalesce(col("deleted"), lit(false)))
      else parents
    val ids = live.select("id").as[String]
    // partition count follows the reference's width-10 fan-out but is
    // CAPPED at a small multiple of cluster parallelism: 10M parents at
    // width 10 would otherwise mean a million tiny scheduler tasks
    val nPart = math.max(1L, math.min(ids.count() / width,
      spark.sparkContext.defaultParallelism * 4L)).toInt
    val payloads = ids.repartition(nPart)
      .mapPartitions(it => it.flatMap(id => fetcher.listForParent(child, fkCol, id)))
      .toDF("payload")
      // persist before the count: the count AND the merge write are two
      // actions, and an uncached plan would run the REMOTE fetch twice —
      // double egress, and a count that can diverge from the rows merged
      .persist()
    try {
      val n = payloads.count()
      if (n > 0) {
        val now = WallClock.now()
        val rows = child.projectFrom(payloads, "payload", now, now = now)
        MergeSink.upsertParquet(rows, tablesDir, child)
      }
      n
    } finally payloads.unpersist()
  }

  /** Upsert a chunk of raw entity JSON through the shared pipeline:
    * project → LWW → guarded merge. Sync timestamp = the chunk's
    * [[WallClock]] (one instant per chunk), matching the
    * reference's backfill semantics (postgres.ts:69: ts defaults to now
    * when not event-driven). Returns rows synced (A3 count metric). */
  def upsertChunk(spark: SparkSession, tablesDir: String, tdef: TableDef,
                  chunk: Seq[String]): Long = {
    if (chunk.isEmpty) return 0L
    import spark.implicits._
    val raw = chunk.toDF("payload")
    // A3 metric = MERGEABLE PAYLOADS PROCESSED (null-key rows excluded —
    // the sink drops them at the door, so counting them would inflate
    // every syncEntity/syncAll total; a duplicate id re-sent in one
    // chunk still counts per payload, the reference's own semantics).
    // The count rides the merge's own write action as an observed
    // metric — no extra job per ~250-row chunk.
    val obs = org.apache.spark.sql.Observation()
    val now = WallClock.now()
    val rows = tdef.projectFrom(raw, "payload", now, now = now)
      .observe(obs, count(when(col(tdef.key).isNotNull, lit(1))).as("n_keyed"))
    MergeSink.upsertParquet(rows, tablesDir, tdef)
    obs.get("n_keyed").asInstanceOf[Long]
  }

  /** S3/S4: scan one entity with chunked flushes (reference buffers 250,
    * stripeSync.ts:1037). */
  def syncEntity(spark: SparkSession, tablesDir: String, tdef: TableDef,
                 fetcher: EntityFetcher, createdGte: Option[Long] = None,
                 createdLt: Option[Long] = None, chunkSize: Int = 250): Long =
    fetcher.list(tdef, createdGte, createdLt)
      .grouped(chunkSize)
      .map(chunk => upsertChunk(spark, tablesDir, tdef, chunk.toSeq))
      .sum

  /** S7: `object:'all'` backfill — every active entity
    * (stripeSync.ts:664-778; the reference runs them sequentially).
    * Returns per-table synced counts.
    *
    * `parallelism` > 1 scans that many entities CONCURRENTLY —
    * each entity targets its own table, so the per-entity merge chains
    * never conflict (the same independence the webhook pipeline's
    * same-rank merges exploit); the fetcher must tolerate concurrent
    * calls (the real API client does — the reference serializes only by
    * choice of control flow, not by data dependency). Default 1 =
    * reference-faithful sequential order. */
  def syncAll(spark: SparkSession, tablesDir: String, fetcher: EntityFetcher,
              createdGte: Option[Long] = None,
              parallelism: Int = 1): Map[String, Long] =
    Concurrently.run(TableDefs.active.map(t =>
      () => t.table -> syncEntity(spark, tablesDir, t, fetcher, createdGte)),
      width = parallelism).toMap

  /** Scheduled-window backfill, the reference's cron routes
    * (routes/sync/daily.ts:12-14, weekly/monthly analogous):
    * created >= now − {1, 7, 30} days. `nowEpochS` injectable for
    * deterministic tests. */
  def syncWindow(spark: SparkSession, tablesDir: String, fetcher: EntityFetcher,
                 window: String,
                 nowEpochS: Long = System.currentTimeMillis() / 1000): Map[String, Long] = {
    val days = window match {
      case "daily" => 1L
      case "weekly" => 7L
      case "monthly" => 30L
      case other => throw new IllegalArgumentException(
        s"unknown window '$other' (daily|weekly|monthly)")
    }
    syncAll(spark, tablesDir, fetcher, createdGte = Some(nowEpochS - days * 86400))
  }

  /** WINDOW-PARALLEL backfill of one entity — the 100 TB form of the
    * reference's own day-window guidance (sync-engine README,
    * "Backfilling": split a large backfill into created-date windows):
    * the `windows` (createdGte, createdLt) ranges are FETCHED
    * concurrently, `parallelism` at a time — paging the remote API is
    * the long pole of a backfill and each window is an independent
    * cursor — and each window's payload then merges through the SAME
    * chunked merge pipeline as [[syncEntity]] under one writer lock. A
    * window's payload is dropped once merged, so at most `parallelism`
    * windows are resident on the driver, never the whole backfill
    * (gathering every window first would make a month-scale backfill a
    * driver OOM). Fetch concurrency never becomes sink concurrency: two
    * concurrent Store.commit swaps on one table would race their
    * staging renames, and the LWW + merge guard needs no such risk — an
    * entity that appears in two windows (updated mid-scan, or
    * overlapping ranges) is collapsed by the guard exactly like a
    * webhook redelivery. Fetch order across windows is therefore
    * immaterial to the final table: the row set equals the sequential
    * scan's (BackfillSpec asserts it). */
  def syncWindows(spark: SparkSession, tablesDir: String, tdef: TableDef,
                  fetcher: EntityFetcher, windows: Seq[(Long, Long)],
                  parallelism: Int = 4, chunkSize: Int = 250): Long = {
    // interruptible, so a failed run's waiting windows stop at the lock
    val writer = new java.util.concurrent.locks.ReentrantLock
    Concurrently.run(windows.map { case (gte, lt) => () =>
      val payloads = fetcher.list(tdef, Some(gte), Some(lt)).toSeq
      writer.lockInterruptibly()
      try payloads.grouped(chunkSize)
        .map(chunk => upsertChunk(spark, tablesDir, tdef, chunk))
        .sum
      finally writer.unlock()
    }, width = parallelism).sum
  }

  /** S6: point sync — id prefix → TableDef → retrieve → shared pipeline
    * (syncSingleEntity, stripeSync.ts:606-662). */
  def syncSingle(spark: SparkSession, tablesDir: String, fetcher: EntityFetcher,
                 stripeId: String): Long =
    TableDefs.forStripeId(stripeId) match {
      case Some(tdef) =>
        fetcher.retrieve(tdef, stripeId)
          .map(json => upsertChunk(spark, tablesDir, tdef, Seq(json)))
          .getOrElse(0L)
      case None => 0L
    }

  /** J1: the missing-parent frontier of a projected batch — for each FK
    * edge, parent ids referenced but absent from the parent table
    * (findMissingEntries, postgres.ts:106-120). The id column may hold a
    * raw JSON object (expanded entities): object → id first, like the
    * reference's `id ?? obj.id` coalescing. */
  def missingParents(spark: SparkSession, tablesDir: String, batch: DataFrame,
                     tdef: TableDef): Map[String, DataFrame] =
    tdef.fkEdges.map { case (fkCol, parentTable) =>
      val parentDef = TableDefs.byTable(parentTable)
      val candidates = batch.select(
        coalesce(get_json_object(col(fkCol), "$.id"), col(fkCol)).as(fkCol))
      val parent = Store.read(spark, s"$tablesDir/$parentTable").getOrElse(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], parentDef.schema))
      parentTable -> MergeOps.missingKeys(candidates, fkCol, parent, parentDef.key)
    }

  /** J2 fixpoint: fetch + upsert missing parents, recursing up the DAG
    * (charges → invoices → customers…; max depth 3, SURVEY §7.5). The
    * reference recurses per-entity AND fetches sequentially
    * (fetchMissingEntities, stripeSync.ts:1762-1776); here each level is
    * one anti-join + one EXECUTOR-SIDE mapPartitions fetch over the
    * missing-id frontier (the syncDependent seam, `width` ids per
    * partition, partition count capped at a small multiple of cluster
    * parallelism) — a cold-start backfill with a large missing-FK
    * frontier parallelizes across executors instead of serializing on
    * the driver. Only the DAG fixpoint loop stays driver-side; ids and
    * payloads never collect. */
  def backfillParents(spark: SparkSession, tablesDir: String, batch: DataFrame,
                      tdef: TableDef, fetcher: EntityFetcher,
                      maxDepth: Int = 4, width: Int = 10): Map[String, Long] = {
    if (maxDepth <= 0 || tdef.fkEdges.isEmpty) return Map.empty
    import spark.implicits._
    // per-edge result maps must SUM across edges: two edges reaching the
    // same ancestor table (charges → customer directly and → invoice →
    // customer) would otherwise have one count silently overwrite the
    // other in the flatMap-to-Map collapse
    val perEdge: Seq[Map[String, Long]] =
      missingParents(spark, tablesDir, batch, tdef).toSeq.map {
        case (parentTable, missing) =>
        val parentDef = TableDefs.byTable(parentTable)
        val nMissing = missing.count()
        if (nMissing == 0L) Map.empty[String, Long]
        else {
          val nPart = math.max(1L, math.min(nMissing / width,
            spark.sparkContext.defaultParallelism * 4L)).toInt
          // persist before any action: the fetch is REMOTE and feeds
          // three consumers (count, recursion batch, merge) — an
          // uncached plan would re-fetch per action
          val payloads = missing.as[String].repartition(nPart)
            .mapPartitions(it => it.flatMap(id => fetcher.retrieve(parentDef, id)))
            .toDF("payload")
            .persist()
          try {
            if (payloads.isEmpty) Map.empty[String, Long]
            else {
              val now = WallClock.now()
              val parentBatch = parentDef.projectFrom(payloads, "payload", now, now = now)
              val grandparents = backfillParents(spark, tablesDir, parentBatch,
                parentDef, fetcher, maxDepth - 1, width)
              // one merge for the whole level; the A3 count rides it as
              // an observed metric, null-key payloads excluded — same
              // semantics as upsertChunk's chunked sum
              val obs = org.apache.spark.sql.Observation()
              val rows = parentDef.projectFrom(payloads, "payload", now, now = now)
                .observe(obs,
                  count(when(col(parentDef.key).isNotNull, lit(1))).as("n_keyed"))
              MergeSink.upsertParquet(rows, tablesDir, parentDef)
              val n = obs.get("n_keyed").asInstanceOf[Long]
              (grandparents.toSeq :+ (parentTable -> n))
                .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
            }
          } finally payloads.unpersist()
        }
      }
    perEdge.flatten.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
  }
}
