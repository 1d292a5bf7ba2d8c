package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.TableDef
import graft.operators.Backfill.EntityFetcher

/** Enrichment stages of the webhook hot path (SURVEY §3.1): revalidation
  * (P8 gated by P4's final-state predicate) and embedded-list expansion
  * (A7). Both call the external source from `mapPartitions` — never from
  * an expression Catalyst may re-execute (§7.5 hard part #3).
  */
object Enrichment {

  /** P8 + P4 (shouldRefetchEntity :584-586 + fetchOrUseWebhookData
    * :588-604): for a routed envelope batch whose entity type is in the
    * revalidate set, re-fetch every entity NOT in a terminal state and
    * use the API payload; terminal-state and non-revalidated rows trust
    * the webhook body. Adds a `refetched` flag driving the two-timestamp
    * semantics (getSyncTimestamp :580-582): event.created when trusted,
    * the batch clock when refetched.
    *
    * Input: envelope rows (payload, created, ...). Output: same columns +
    * `refetched`, with payload possibly replaced.
    */
  def revalidate(events: DataFrame, tdef: TableDef, fetcher: EntityFetcher): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val isTerminal =
      if (tdef.terminalStatuses.isEmpty) lit(false)
      else get_json_object(col("payload"), "$.status").isin(tdef.terminalStatuses.toSeq: _*)
    val trusted = events.filter(isTerminal).withColumn("refetched", lit(false))
    val toFetch = events.filter(!isTerminal)
    val slim = toFetch.select(
      get_json_object(col("payload"), "$.id").as("_1"),
      col("created").as("_2"), col("payload").as("_3"))
      .as[(String, Long, String)]
    val fetched = slim.mapPartitions { it =>
      it.map { case (id, created, payload) =>
        val api = Option(id).flatMap(i => fetcher.retrieve(tdef, i))
        (api.getOrElse(payload), created, api.isDefined)
      }
    }.toDF("payload", "created", "refetched")
    trusted.select(col("payload"), col("created"), col("refetched"))
      .union(fetched)
  }

  /** A7 (expandEntity :1739-1760, gated by autoExpandLists): replace a
    * truncated embedded list column (`has_more: true`) with the full
    * list from the source. Operates on the PROJECTED frame: the list
    * lives in a jsonb-text column (charges.refunds, invoices.lines,
    * credit_notes.lines, subscriptions.items). Rows with has_more=false
    * pass through untouched (invoices.test.ts:33-73). */
  def expandListColumn(projected: DataFrame, tdef: TableDef, field: String,
                       fetcher: EntityFetcher): DataFrame = {
    val spark = projected.sparkSession
    import spark.implicits._
    val needs = projected
      .filter(get_json_object(col(field), "$.has_more") === "true")
      .select(col(tdef.key).as("_1")).as[String]
    if (needs.isEmpty) return projected
    val replacements = needs.mapPartitions { it =>
      it.flatMap(id => fetcher.expandList(tdef, id, field).map(full => (id, full)))
    }.toDF(tdef.key, s"__full_$field")
    projected.join(replacements, Seq(tdef.key), "left")
      .withColumn(field, coalesce(col(s"__full_$field"), col(field)))
      .drop(s"__full_$field")
  }

  /** A6 (fillCheckoutSessionsLineItems :1511-1523 +
    * upsertCheckoutSessionLineItems :1525-1557): per synced checkout
    * session, fetch its line items, rewrite `price` object → id, tag the
    * `checkout_session` FK, and return projected child rows, both
    * stamps `now` (the fetch is the sync). */
  def checkoutLineItems(sessions: DataFrame, child: TableDef,
                        fetcher: EntityFetcher, now: Column): DataFrame = {
    val spark = sessions.sparkSession
    import spark.implicits._
    val pairs = sessions
      .select(get_json_object(col("payload"), "$.id").as("_1")).as[String]
      .mapPartitions { it =>
        it.flatMap(sid =>
          fetcher.listForParent(child, "checkout_session", sid).map(j => (sid, j)))
      }.toDF("__session_id", "payload")
    child.projectFrom(pairs, "payload", now, passthrough = Seq("__session_id"), now = now)
      .withColumn("price", coalesce(get_json_object(col("price"), "$.id"), col("price")))
      .withColumn("checkout_session",
        coalesce(col("checkout_session"), col("__session_id")))
      .drop("__session_id")
  }
}
