package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{TableDef, TableDefs}
import graft.operators.{Backfill, Concurrently, Enrichment, MergeOps, MergeSink}
import graft.sources.StripeEvents
import graft.sources.StripeEvents._

/** Pipeline options, mirroring the reference's StripeSyncConfig
  * (types.ts:5-58): `revalidateTables` =
  * revalidateObjectsViaStripeApi (P8), `autoExpandLists` = A7. */
final case class SyncConfig(
    revalidateTables: Set[String] = Set.empty,
    autoExpandLists: Boolean = false,
    /** Tables that ALSO maintain an SCD2 `<table>__history` store
      * alongside the latest-state mirror ([[graft.operators.MergeSink
      * .historyParquet]]) — the warehouse-grade extension the
      * reference's latest-only model lacks. Soft-delete events
      * (deleted-split upserts) append a tombstone version; hard
      * deletes (S10) leave history intact by design — a history table
      * exists precisely to outlive the row. Child tables derived by
      * normalization are versioned too when listed here:
      * `subscription_items` (including J3 vanished-item tombstones)
      * and `checkout_session_line_items`. */
    historyTables: Set[String] = Set.empty,
    /** Write every well-formed delivery's envelope to the `events`
      * table — the ledger the reference migrates (`0009_events.sql`)
      * but never writes (§1.2). One LWW-merged row per event id. */
    eventsLedger: Boolean = false,
    /** Drop redelivered event ids BEFORE the router (§2.6
      * `dropDuplicatesWithinWatermark`-style event dedup, but exact and
      * unbounded: a [[ReplayGuard]] ledger at `_event_guard`). The
      * guarded merge already makes redeliveries idempotent; this knob
      * saves the routing/merge work entirely and gives hard
      * exactly-once accounting per event id. */
    dedupEventIds: Boolean = false)

/** The webhook hot path (SURVEY §3.1), Spark-first:
  *
  *   event JSON stream → envelope parse → route by type → per entity:
  *   intra-batch LWW → guarded merge → child normalization →
  *   set-difference passes.
  *
  * One pipeline, three drivers (stream / backfill scan / point sync),
  * exactly as the reference funnels everything through `upsert<Entity>` →
  * `upsertManyWithTimestampProtection` (§3.3 design constraint). The
  * batch entry [[processBatch]] is `foreachBatch`-compatible; [[start]]
  * wires it to a file-drop Structured Streaming source (at-least-once
  * delivery + idempotent guarded merge = effectively exactly-once,
  * §2.6).
  */
class WebhookPipeline(tablesDir: String,
    fetcher: Option[Backfill.EntityFetcher] = None,
    config: SyncConfig = SyncConfig()) {

  /** A7 targets: which jsonb list columns get expanded per table
    * (stripeSync.ts:1072-1074, :1115-1117, :1281-1282, :1618-1620). */
  private val expandFields: Map[String, Seq[String]] = Map(
    "charges" -> Seq("refunds"), "invoices" -> Seq("lines"),
    "credit_notes" -> Seq("lines"), "subscriptions" -> Seq("items"))

  private val eventGuardDir = s"$tablesDir/_event_guard"

  private val subscriptionTypes = StripeEvents.routes.collect {
    case (t, (tdef, Upsert)) if tdef.table == TableDefs.subscriptions.table => t
  }.toSeq

  /** Process one micro-batch of raw event JSON (column `value`). */
  def processBatch(raw: DataFrame, batchId: Long = 0L): Unit = {
    // keepRaw only when the ledger needs the original event object —
    // the hot path keeps the narrower cache
    val parsed = StripeEvents.parseEnvelope(raw, keepRaw = config.eventsLedger)
    val spark = raw.sparkSession
    val deduped =
      if (!config.dedupEventIds) parsed
      else {
        // pre-route replay drop: recorded event ids never reach the
        // router (null-id rows pass through — they are the quarantine
        // path's problem, not the guard's)
        if (!ReplayGuard.exists(spark, eventGuardDir))
          ReplayGuard.bootstrap(spark, eventGuardDir, nBuckets = 64)
        ReplayGuard.filterFresh(parsed.filter(col("event_id").isNotNull),
            "event_id", eventGuardDir)
          .union(parsed.filter(col("event_id").isNull))
      }
    val envelope = deduped.cache()
    try {
      // ONE aggregate decides which route groups have events — the
      // per-group emptiness probes it replaces were ~25 driver-visible
      // jobs per micro-batch, pure scheduling overhead on the hot path.
      // The same pass also counts null payloads per type, so quarantine
      // detection still costs zero extra jobs on a clean batch, and
      // subscription events carrying an `items.data` list, so the A5+J3
      // normalization needs no emptiness probe of its own. It runs
      // BEFORE the events ledger (round 16) so a batch the pre-route
      // dedup emptied — the common at-least-once redelivery case —
      // skips the ledger's read+merge+rewrite of the events table
      // entirely: an empty guarded merge rewrites identical content,
      // so skipping it changes no stored byte.
      val stats = envelope.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(when(col("payload").isNull, 1)).as("n_null_payload"),
          count(when(col("event_type").isin(subscriptionTypes: _*) &&
            expr("json_array_length(get_json_object(payload, '$.items.data'))")
              .isNotNull, 1)).as("n_item_lists"))
        .collect()
      val typeCounts: Map[String, Long] =
        stats.map(r => (r.getString(0), r.getLong(1))).toMap
      val nullPayloads = stats.map(_.getLong(2)).sum
      val itemLists = stats.map(_.getLong(3)).sum
      // ...unless the events table does not exist yet: the first write
      // (even of zero rows) creates the schema-bearing dir rebuildAsOf
      // and downstream readers expect, so an all-empty-batch stream
      // still leaves a readable (empty) ledger
      val ledger = config.eventsLedger && (stats.nonEmpty ||
        !MergeSink.tableExists(spark, s"$tablesDir/events"))
      // deliveries the quarantine must land: a null payload or a type
      // the router cannot place
      val suspect = nullPayloads > 0 ||
        typeCounts.keys.exists(t => t == null || !StripeEvents.routes.contains(t))
      val live = StripeEvents.route(envelope).filter {
        case (_, _, types, _) => types.exists(t => typeCounts.getOrElse(t, 0L) > 0L)
      }
      def upserts(tdef: TableDef): Option[DataFrame] = live.collectFirst {
        case (t, Upsert, _, events) if t.table == tdef.table => events
      }
      // ONE concurrent wave: every task writes a different store and
      // reads no store another task writes, so the tasks are
      // independent Spark actions — the reference's Promise.all
      // parallelism over entity types (stripeSync.ts:1066-1069) across
      // the whole batch. Each table makes exactly one guarded commit:
      // its actions' same-batch ordering (StripeEvents.rank) is resolved
      // INSIDE that commit, not by barriers between commits. The child
      // normalizations read only their own stores, so they do not wait
      // for their parents' merges; they go first, being the longest
      // chains.
      val children: Seq[() => Unit] =
        upserts(TableDefs.subscriptions).filter(_ => itemLists > 0)
          .map(events => () => normalizeSubscriptionItems(events)).toSeq ++
        upserts(TableDefs.checkoutSessions).flatMap(events =>
          fetcher.map(f => () => checkoutLineItems(events, f)))
      val tables: Seq[() => Unit] =
        live.groupBy { case (tdef, _, _, _) => tdef.table }.toSeq.sortBy(_._1)
          .map { case (_, groups) =>
            val events = groups.map { case (_, action, _, evs) => action -> evs }.toMap
            () => commitTable(groups.head._1, events)
          }
      Concurrently.run(children ++ tables ++
        Option.when(ledger)(() => writeEventsLedger(envelope)) ++
        Option.when(suspect)(() => quarantineUnprocessable(raw, batchId)))
      // record AFTER all merges land: a crashed batch records nothing,
      // the retry reprocesses, and every merge is idempotent — the
      // standard at-least-once → exactly-once ledger ordering
      if (config.dedupEventIds)
        ReplayGuard.record(
          envelope.filter(col("event_id").isNotNull).select("event_id"),
          "event_id", eventGuardDir)
    } finally envelope.unpersist()
  }

  /** The `events` ledger (0009_events.sql parity, config-gated): LWW-
    * merge each well-formed delivery's FULL event object into `events`,
    * keyed by event id — the sink drops null-id rows at the door, so
    * malformed deliveries stay the quarantine's concern. Timestamp =
    * event.created (the body is webhook-trusted by definition; an event
    * object is never refetched). */
  private def writeEventsLedger(envelope: DataFrame): Unit = {
    val tdef = TableDefs.events
    val rows = tdef.projectFrom(
      envelope.select(col("raw_value"), col("created")),
      "raw_value", StripeEvents.syncTimestamp())
    MergeSink.upsertParquet(rows, tablesDir, tdef)
  }

  /** Dead-letter AUDIT sink — the ops extension the reference's
    * ignore-with-200 leaves open (`routes/webhooks.ts` acknowledges
    * every delivery; unhandled types just vanish): any batch containing
    * events the router cannot place lands them in
    * `_quarantine/batch_id=N` with the ORIGINAL raw delivery text, so
    * drops are auditable and genuinely replayable after a route (or
    * producer fix) lands — a typeless garbage delivery parses to all
    * nulls, and without `raw_value` its quarantine row would be an
    * unidentifiable husk. The decision rides the SAME type/payload
    * aggregate the router already pays for — a clean batch (every type
    * routed, no null payloads) adds ZERO extra jobs — and the write
    * OVERWRITES its batch_id subdir, so Structured Streaming's
    * at-least-once re-run of a batch is idempotent (the batch id
    * surfaces as a partition column on read). Reasons:
    * `malformed_envelope` (no parseable type or payload — null-payload
    * events of ROUTED types are included: the sink would drop their
    * all-null projection silently) vs `unrouted_type` (well-formed,
    * just not a routed event type). */
  private def quarantineUnprocessable(raw: DataFrame, batchId: Long): Unit = {
    val handled = StripeEvents.routes.keySet
    // the ONE envelope parser, with the raw text riding along — a
    // hand-rolled re-parse here could drift from the router's and
    // quarantine the wrong rows
    StripeEvents.parseEnvelope(raw, keepRaw = true)
      .filter(col("event_type").isNull || col("payload").isNull ||
        !col("event_type").isin(handled.toSeq: _*))
      .select(col("event_id"), col("event_type"), col("created"),
        when(col("event_type").isNull || col("payload").isNull,
          "malformed_envelope").otherwise("unrouted_type").as("reason"),
        col("payload"), col("raw_value"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$tablesDir/_quarantine/batch_id=$batchId")
  }

  /** The table's ONE guarded commit for this batch. Its upsert rows and
    * its P3 deleted-projection rows go through one
    * [[MergeSink.upsertParquet]], tagged with their action rank, and its
    * S10 hard-delete ids prune the merged rows in the same write. That
    * is the state the serial per-rank merges produce (upsert, then
    * deleted-upsert, then delete — see [[StripeEvents.rank]]), with one
    * read + rewrite of the table instead of one per action. */
  private def commitTable(tdef: TableDef, events: Map[Action, DataFrame]): Unit = {
    val rows = events.toSeq.sortBy { case (action, _) => StripeEvents.rank(action) }.collect {
      case (Upsert, evs)        => upsertRows(tdef, evs)
      case (DeletedUpsert, evs) => deletedRows(tdef, evs)
    }
    val deleteIds = events.get(Delete)
      .map(_.select(get_json_object(col("payload"), "$.id").as("id")))
    events.get(EntitlementDelta).foreach(entitlementDelta)
    if (rows.isEmpty) deleteIds.foreach(MergeSink.deleteParquet(_, tablesDir, tdef))
    else {
      val batch = rows.reduce(_ unionByName _)
      MergeSink.upsertParquet(batch, tablesDir, tdef, deleteIds = deleteIds)
      if (config.historyTables(tdef.table))
        MergeSink.historyParquet(
          batch.drop(MergeSink.EvtSeqCol, MergeSink.RankCol), tablesDir, tdef)
    }
  }

  /** Full-schema upsert rows: optional revalidation (P8/P4,
    * two-timestamp semantics) and optional list expansion (A7). */
  private def upsertRows(tdef: TableDef, events: DataFrame): DataFrame = {
    // the envelope's event id rides along as the LWW tie-break
    // (MergeSink.EvtSeqCol): same-key rows with EQUAL created resolve
    // deterministically instead of shuffle-order — the intra-batch
    // analog of the reference's serial delivery processing. Null on
    // the revalidate arm (refetched rows carry now() timestamps, which
    // never tie) and for id-less deliveries (quarantine's concern).
    val enriched = fetcher match {
      case Some(f) if config.revalidateTables(tdef.table) =>
        Enrichment.revalidate(events.select("payload", "created"), tdef, f)
          .withColumn(MergeSink.EvtSeqCol, lit(null).cast("string"))
      case _ =>
        events.select(col("payload"), col("created"),
            col("event_id").as(MergeSink.EvtSeqCol))
          .withColumn("refetched", lit(false))
    }
    // getSyncTimestamp (stripeSync.ts:580-582): event.created when the
    // webhook body is trusted, now() when the entity was re-fetched.
    val ts = when(col("refetched"), current_timestamp())
      .otherwise(timestamp_seconds(col("created")))
    var rows = tdef.projectFrom(enriched, "payload", ts,
      passthrough = Seq(MergeSink.EvtSeqCol))
    if (config.autoExpandLists)
      fetcher.foreach { f =>
        expandFields.getOrElse(tdef.table, Nil).foreach { field =>
          rows = Enrichment.expandListColumn(rows, tdef, field, f)
        }
      }
    rows.withColumn(MergeSink.RankCol, lit(StripeEvents.rank(Upsert)))
  }

  /** A6: checkout sessions' line items, fetched per session. */
  private def checkoutLineItems(events: DataFrame, f: Backfill.EntityFetcher): Unit = {
    val child = TableDefs.checkoutSessionLineItems
    val items = Enrichment.checkoutLineItems(events, child, f)
    if (!items.isEmpty) {
      MergeSink.upsertParquet(items, tablesDir, child)
      if (config.historyTables(child.table))
        MergeSink.historyParquet(items, tablesDir, child)
    }
  }

  /** P3: the 3-column deleted projection — deliberately nulls the other
    * live columns (useNullForMissing, §7.5 hard part: replicate, don't
    * "fix"). */
  private def deletedRows(tdef: TableDef, events: DataFrame): DataFrame =
    tdef.projectFrom(
      events.withColumn("payload",
        to_json(struct(
          get_json_object(col("payload"), "$.id").as("id"),
          get_json_object(col("payload"), "$.object").as("object"),
          lit(true).as("deleted"))))
        .withColumn(MergeSink.EvtSeqCol, col("event_id")),
      "payload", syncTimestamp(), passthrough = Seq(MergeSink.EvtSeqCol))
      .withColumn(MergeSink.RankCol, lit(StripeEvents.rank(DeletedUpsert)))

  /** Split a JSON array at `path` inside `payloadCol` into one row per
    * element, the element's raw JSON in `elemCol`. from_json cannot keep
    * elements as raw text, so this uses json_array_length + a dynamic
    * get_json_object index path — all codegen'd expressions, no UDF. */
  private def explodeJsonArray(df: DataFrame, path: String, elemCol: String): DataFrame =
    df.withColumn("__n", expr(s"json_array_length(get_json_object(payload, '$$.$path'))"))
      .withColumn("__i", explode(sequence(lit(0), col("__n") - 1)))
      .withColumn(elemCol,
        expr(s"get_json_object(payload, concat('$$.$path[', __i, ']'))"))
      .drop("__n", "__i")

  /** A5 + J3 (stripeSync.ts:1484-1583): explode `items.data` into
    * subscription_items (price object → id, deleted defaults false),
    * then mark vanished items deleted via set-difference. */
  private def normalizeSubscriptionItems(events: DataFrame): Unit = {
    val tdef = TableDefs.subscriptionItems
    val items = explodeJsonArray(
      events.select(
        get_json_object(col("payload"), "$.id").as("__sub_id"),
        col("created").as("__event_created"),
        col("payload")),
      "items.data", "__item")
    val projected = items
      .select(Seq(col("__sub_id"), col("__event_created"),
        col("__item").as("__payload")): _*)
      .select(Seq(col("__sub_id"), col("__event_created")) ++ tdef.project("__payload"): _*)
      // price object → id; subscription FK tag; deleted ?? false
      .withColumn("price", coalesce(get_json_object(col("price"), "$.id"), col("price")))
      .withColumn("subscription", coalesce(col("subscription"), col("__sub_id")))
      .withColumn("deleted", coalesce(col("deleted"), lit(false)))
      .withColumn("updated_at", current_timestamp())
      .withColumn("last_synced_at", timestamp_seconds(col("__event_created")))
      .drop("__sub_id", "__event_created")
    // J3 (markDeletedSubscriptionItems): items in the table for these
    // subscriptions but absent from the incoming sets → deleted = true.
    // The vanished set is computed against the PRE-merge table and
    // UNIONED into the upsert batch, so upsert + deletion-flagging
    // commit as ONE merge pass instead of two full read+rewrite passes
    // (micro-batch latency is job-launch bound at webhook batch sizes).
    // Pre- vs post-merge vanished sets are identical: the merge only
    // adds/updates ids that are in the incoming set, and those are
    // excluded from the set-difference by definition.
    val batch = MergeSink.readStored(events.sparkSession, s"$tablesDir/${tdef.table}") match {
      case Some(existing) =>
        val incomingSubs = projected.select("subscription").distinct()
        val incomingIds = projected.select("id")
        val vanished = MergeOps.setDiffDelete(
          existing.join(incomingSubs, Seq("subscription"), "left_semi")
            .filter(not(coalesce(col("deleted"), lit(false)))),
          incomingIds, "id")
        val flagged = vanished.withColumn("deleted", lit(true))
          .withColumn("last_synced_at", current_timestamp())
          .select(projected.columns.toIndexedSeq.map(col): _*)
        projected.unionByName(flagged)
      case None => projected
    }
    // two sinks consume the batch and its plan READS the pre-merge
    // table (the J3 set-difference): after upsertParquet swaps the
    // directory, a lazy re-evaluation would chase deleted files — and
    // the tombstones' current_timestamp() must freeze to ONE value —
    // so materialize once when history is on
    val staged = if (config.historyTables(tdef.table))
      batch.localCheckpoint(true) else batch
    MergeSink.upsertParquet(staged, tablesDir, tdef)
    // SCD2 for the normalized child: the SAME batch (including the J3
    // vanished-item tombstones, which version as deleted=true rows)
    // feeds the history store, so child history tiles across batches
    // exactly like parent history does
    if (config.historyTables(tdef.table))
      MergeSink.historyParquet(staged, tablesDir, tdef)
  }

  /** J4 (stripeSync.ts:1650-1660 + :1683-1712): upsert the summary's
    * current entitlement set, then hard-delete the customer's rows not
    * in it. */
  private def entitlementDelta(events: DataFrame): Unit = {
    val tdef = TableDefs.activeEntitlements
    val ents = explodeJsonArray(
      events.select(
        get_json_object(col("payload"), "$.customer").as("__cust_id"),
        col("created").as("__event_created"),
        col("payload")),
      "entitlements.data", "__ent")
    if (ents.isEmpty) return
    val projected = ents
      .select(Seq(col("__cust_id"), col("__event_created"),
        col("__ent").as("__payload")): _*)
      .select(Seq(col("__cust_id"), col("__event_created")) ++ tdef.project("__payload"): _*)
      .withColumn("feature", coalesce(get_json_object(col("feature"), "$.id"), col("feature")))
      .withColumn("customer", coalesce(col("customer"), col("__cust_id")))
      .withColumn("updated_at", current_timestamp())
      .withColumn("last_synced_at", timestamp_seconds(col("__event_created")))
      .drop("__cust_id", "__event_created")
    // upsert the current set and hard-delete the customer's rows not in
    // it as ONE merge commit (the reference runs two statements in one
    // transaction; two full parquet rewrites here would double the job
    // count): the stale set is evaluated on the post-merge table inside
    // upsertPruneParquet's single read+write pass.
    MergeSink.upsertPruneParquet(projected, tablesDir, tdef, merged =>
      MergeOps.setDiffDelete(
        merged.join(projected.select("customer").distinct(),
          Seq("customer"), "left_semi"),
        projected.select("id"), "id"))
  }

  /** Structured Streaming driver: file-drop source of event JSON (one
    * event per line/file), at-least-once → idempotent merge. */
  def start(spark: SparkSession, inputDir: String, checkpoint: String) = {
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))
      .text(inputDir)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id))
      .start()
  }
}

object WebhookPipeline {

  /** POINT-IN-TIME table rebuild from the `events` ledger — the
    * audit/debug capability the ledger exists for, and the capstone
    * composing ledger + router + LWW + SCD2: replay every ledgered
    * event with `created <= asOfEpochSec` through a FRESH pipeline into
    * `outDir`. For every history-tracked table without hard deletes,
    * the rebuilt latest-state table equals
    * [[graft.operators.MergeOps.asOfState]] of the original store's
    * `<table>__history` at the same instant (WebhookPipelineSpec proves
    * this at sampled timestamps over the fixture corpus with
    * redeliveries). Hard-delete tables differ BY DESIGN: history
    * outlives the row, the rebuild replays the delete.
    *
    * The delivery JSON is reconstructed from the ledger row: scalar
    * envelope fields via to_json (null fields omitted, exactly what
    * the envelope parser tolerates), the `data` object spliced back
    * verbatim — the ledger stores it as the original JSON text. */
  def rebuildAsOf(spark: SparkSession, tablesDir: String, outDir: String,
                  asOfEpochSec: Long,
                  config: SyncConfig = SyncConfig()): Unit = {
    val ev = spark.read.parquet(s"$tablesDir/events")
      .filter(col("created") <= asOfEpochSec)
    val head = to_json(struct(col("id"), col("type"), col("created"),
      col("livemode"), col("api_version")))
    val value = concat(
      expr("substring(head, 1, length(head) - 1)"),
      lit(",\"data\":"), coalesce(col("data"), lit("null")), lit("}"))
    val raw = ev.withColumn("head", head).select(value.as("value"))
    new WebhookPipeline(outDir, config = config).processBatch(raw, 0L)
  }
}
