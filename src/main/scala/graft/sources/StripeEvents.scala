package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.{TableDef, TableDefs}

/** Webhook event envelope parsing + event-type routing — the Spark analog
  * of `processWebhook`/`processEvent` (stripeSync.ts:97-578).
  *
  * Envelope shape (FIXTURES.md §1, any fixture under
  * packages/fastify-app/src/test/stripe/): `{id, object:'event',
  * api_version, created, data:{object, previous_attributes}, livemode,
  * pending_webhooks, request, type}`.
  *
  * The entity payload (`data.object`) stays raw JSON text — per-entity
  * projection happens later against the routed TableDef, so one parse
  * serves 22 entity schemas (P1).
  */
object StripeEvents {

  /** Parse a DataFrame of raw event JSON (column `value`) into the
    * envelope: event_id, event_type, created (epoch s), livemode,
    * api_version, payload (raw `data.object` JSON), previous_attributes.
    */
  /** `keepRaw = true` carries the original delivery text along as
    * `raw_value` — the quarantine sink needs it so a typeless garbage
    * row stays identifiable; the hot path omits it (narrower cache).
    * ONE parser owns the envelope contract: the router's aggregate and
    * the quarantine selection must never drift apart. */
  def parseEnvelope(raw: DataFrame, valueCol: String = "value",
                    keepRaw: Boolean = false): DataFrame = {
    val v = col(valueCol)
    val fields = Seq(
      get_json_object(v, "$.id").as("event_id"),
      get_json_object(v, "$.type").as("event_type"),
      expr(s"try_cast(get_json_object($valueCol, '$$.created') AS BIGINT)").as("created"),
      expr(s"try_cast(get_json_object($valueCol, '$$.livemode') AS BOOLEAN)").as("livemode"),
      get_json_object(v, "$.api_version").as("api_version"),
      get_json_object(v, "$.data.object").as("payload"),
      get_json_object(v, "$.data.previous_attributes").as("previous_attributes"))
    val cols = if (keepRaw) v.as("raw_value") +: fields else fields
    raw.select(cols: _*)
  }

  /** Sync timestamp semantics (getSyncTimestamp, stripeSync.ts:580-582):
    * `event.created` for webhook-trusted rows, now() when the entity was
    * re-fetched from the API. */
  def syncTimestamp(refetched: Boolean = false): Column =
    if (refetched) current_timestamp() else timestamp_seconds(col("created"))

  /** Same-batch action order: upserts before deleted-upserts before
    * deltas before deletes, so a same-id create+delete in one
    * micro-batch resolves as if the actions were applied one after
    * another in this order — a later `customer.deleted` wins, an
    * equal-time one loses to the live row (strict `>` guard), and a
    * hard delete removes its key whatever the timestamps. No barrier
    * enforces it: every action on a table lands in that table's ONE
    * guarded commit, whose intra-batch LWW breaks timestamp ties by this
    * rank ([[graft.operators.MergeSink.RankCol]]) and whose hard-delete
    * ids prune the merged rows last. THE single owner of this ordering
    * contract — [[route]] sorts by it and the pipeline's per-table
    * commits order by it. */
  def rank(a: Action): Int = a match {
    case Upsert => 0
    case DeletedUpsert => 1
    case EntitlementDelta => 2
    case Delete => 3
  }

  sealed trait Action
  case object Upsert extends Action
  /** S10 hard delete by id (deleteProduct/-Price/-Plan/-TaxId). */
  case object Delete extends Action
  /** P3: 3-column deleted projection over the same table. */
  case object DeletedUpsert extends Action
  /** J4: entitlement summary → delta (upsert current set, delete rest). */
  case object EntitlementDelta extends Action

  /** The ~95-case event-type switch (processEvent, stripeSync.ts:107-578)
    * as data: exact event type → (target table, action). Unlisted types
    * are ignored, as in the reference (default: no-op). */
  val routes: Map[String, (TableDef, Action)] = {
    def up(types: Seq[String], t: TableDef) = types.map(_ -> (t, Upsert: Action))
    (up(Seq("charge.captured", "charge.expired", "charge.failed",
        "charge.pending", "charge.refunded", "charge.succeeded",
        "charge.updated"), TableDefs.charges) ++
      Seq("customer.deleted" -> (TableDefs.customers, DeletedUpsert)) ++
      up(Seq("checkout.session.async_payment_failed",
        "checkout.session.async_payment_succeeded",
        "checkout.session.completed", "checkout.session.expired"),
        TableDefs.checkoutSessions) ++
      up(Seq("customer.created", "customer.updated"), TableDefs.customers) ++
      up(Seq("customer.subscription.created", "customer.subscription.deleted",
        "customer.subscription.paused",
        "customer.subscription.pending_update_applied",
        "customer.subscription.pending_update_expired",
        "customer.subscription.trial_will_end",
        "customer.subscription.resumed", "customer.subscription.updated"),
        TableDefs.subscriptions) ++
      up(Seq("customer.tax_id.updated", "customer.tax_id.created"), TableDefs.taxIds) ++
      Seq("customer.tax_id.deleted" -> (TableDefs.taxIds, Delete)) ++
      up(Seq("invoice.created", "invoice.deleted", "invoice.finalized",
        "invoice.finalization_failed", "invoice.paid",
        "invoice.payment_action_required", "invoice.payment_failed",
        "invoice.payment_succeeded", "invoice.upcoming", "invoice.sent",
        "invoice.voided", "invoice.marked_uncollectible", "invoice.updated"),
        TableDefs.invoices) ++
      up(Seq("product.created", "product.updated"), TableDefs.products) ++
      Seq("product.deleted" -> (TableDefs.products, Delete)) ++
      up(Seq("price.created", "price.updated"), TableDefs.prices) ++
      Seq("price.deleted" -> (TableDefs.prices, Delete)) ++
      up(Seq("plan.created", "plan.updated"), TableDefs.plans) ++
      Seq("plan.deleted" -> (TableDefs.plans, Delete)) ++
      up(Seq("setup_intent.canceled", "setup_intent.created",
        "setup_intent.requires_action", "setup_intent.setup_failed",
        "setup_intent.succeeded"), TableDefs.setupIntents) ++
      up(Seq("subscription_schedule.aborted", "subscription_schedule.canceled",
        "subscription_schedule.completed", "subscription_schedule.created",
        "subscription_schedule.expiring", "subscription_schedule.released",
        "subscription_schedule.updated"), TableDefs.subscriptionSchedules) ++
      up(Seq("payment_method.attached", "payment_method.automatically_updated",
        "payment_method.detached", "payment_method.updated"),
        TableDefs.paymentMethods) ++
      up(Seq("charge.dispute.created", "charge.dispute.funds_reinstated",
        "charge.dispute.funds_withdrawn", "charge.dispute.updated",
        "charge.dispute.closed"), TableDefs.disputes) ++
      up(Seq("payment_intent.amount_capturable_updated", "payment_intent.canceled",
        "payment_intent.created", "payment_intent.partially_funded",
        "payment_intent.payment_failed", "payment_intent.processing",
        "payment_intent.requires_action", "payment_intent.succeeded"),
        TableDefs.paymentIntents) ++
      up(Seq("credit_note.created", "credit_note.updated", "credit_note.voided"),
        TableDefs.creditNotes) ++
      up(Seq("radar.early_fraud_warning.created",
        "radar.early_fraud_warning.updated"), TableDefs.earlyFraudWarnings) ++
      up(Seq("refund.created", "refund.failed", "refund.updated",
        "charge.refund.updated"), TableDefs.refunds) ++
      up(Seq("review.closed", "review.opened"), TableDefs.reviews) ++
      Seq("entitlements.active_entitlement_summary.updated" ->
        (TableDefs.activeEntitlements, EntitlementDelta)) ++
      up(Seq("invoice_payment.paid"), TableDefs.invoicePayments)).toMap
  }

  /** Split an envelope batch into per-(table, action) groups, Spark-side:
    * a filter per route family over one cached batch — the columnar
    * analog of the switch statement. Groups are ordered deterministically
    * by ([[rank]], table); a table's groups are applied in ONE commit
    * that resolves a same-id create+delete arriving in one micro-batch
    * by that rank (the at-least-once-safe outcome, "deleted" when the
    * delete is newer or hard), never by a racy interleaving. Each group
    * carries its event-type list so the caller can skip empty groups
    * from ONE per-type count aggregate instead of probing every group
    * with its own isEmpty job (~25 driver-visible jobs per micro-batch
    * saved). */
  def route(envelope: DataFrame): Seq[(TableDef, Action, Seq[String], DataFrame)] = {
    val byTarget = routes.toSeq.groupBy(_._2).view.mapValues(_.map(_._1))
    byTarget.toSeq
      .sortBy { case ((tdef, action), _) => (rank(action), tdef.table) }
      .map { case ((tdef, action), types) =>
        (tdef, action, types, envelope.filter(col("event_type").isin(types: _*)))
      }
  }
}
