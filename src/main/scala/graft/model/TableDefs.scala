package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.WallClock

/** One synced entity table: the Spark analog of the reference's
  * `EntitySchema` projection lists (packages/sync-engine/src/schemas/<entity>.ts)
  * + migration DDL (src/database/migrations/<n>.sql) + dataflow metadata
  * (SURVEY §1.2, §2).
  *
  * @param table            target table name (= reference table, §1.2)
  * @param stripeObject     `data.object.object` discriminator value
  * @param idPrefixes       Stripe id prefixes for point-sync dispatch
  *                         (syncSingleEntity, stripeSync.ts:606-662)
  * @param columns          ordered projection list (= schemas/<entity>.ts
  *                         properties; unknown fields dropped, missing
  *                         fields null — postgres.ts:51-53,93-95)
  * @param fkEdges          column → parent table (the J2 backfill DAG,
  *                         stripeSync.ts:1060-1734)
  * @param terminalStatuses P4 final-state predicate values
  *                         (fetchOrUseWebhookData, stripeSync.ts:588-604)
  * @param hasDeletedSplit  P3 dual-schema (customers: 3-col deleted
  *                         projection, stripeSync.ts:1217-1238)
  */
final case class TableDef(
    table: String,
    stripeObject: String,
    idPrefixes: Seq[String],
    columns: Seq[String],
    fkEdges: Map[String, String] = Map.empty,
    terminalStatuses: Set[String] = Set.empty,
    hasDeletedSplit: Boolean = false) {

  def key: String = "id"

  def sparkType(c: String): DataType = TableDefs.typeOf(c)

  /** Declared Spark schema, incl. the two engine-maintained columns
    * (updated_at trigger → 0012; last_synced_at guard → 0033). */
  def schema: StructType = StructType(
    columns.map(c => StructField(c, sparkType(c))) ++ Seq(
      StructField("updated_at", TimestampType),
      StructField("last_synced_at", TimestampType)))

  /** P1 fixed-column projection + P2 array/object stringify:
    * `get_json_object` returns raw JSON text for objects/arrays (the
    * jsonb-column analog, cleanseArrayField postgres.ts:218-231) and the
    * scalar text otherwise; extra payload fields are dropped and missing
    * ones become NULL — exactly the reference's projection semantics.
    * try_cast keeps malformed values null instead of failing the batch.
    */
  def project(payloadCol: String): Seq[Column] =
    columns.map { c =>
      val raw = get_json_object(col(payloadCol), s"$$.$c")
      val typed = sparkType(c) match {
        case StringType => raw
        case t => expr(s"try_cast(get_json_object($payloadCol, '$$.$c') AS ${t.sql})")
      }
      typed.as(c)
    }

  /** Project a DataFrame bearing the raw entity JSON in `payloadCol`.
    * `passthrough` names input columns carried alongside the projected
    * schema (e.g. the transient LWW tie-break [[MergeSink.EvtSeqCol]])
    * — the caller owns dropping them before any schema-shaped sink.
    * `now` stamps `updated_at`: pass the batch's one [[WallClock]] so
    * every row of the batch, and `syncTs` where it is the clock too,
    * carries the same instant. */
  def projectFrom(df: DataFrame, payloadCol: String, syncTs: Column,
                  passthrough: Seq[String] = Nil,
                  now: Column = WallClock.now()): DataFrame =
    df.select(project(payloadCol) ++ passthrough.map(col) :+
      now.as("updated_at") :+
      syncTs.as("last_synced_at"): _*)
}

/** Registry of all synced tables — the Spark analog of the reference's
  * migrations (§1.2: 28 tables, 22 actively written) + schemas/<entity>.ts.
  * Column lists cite schemas/<entity>.ts; FK edges cite SURVEY §2.3 J2.
  */
object TableDefs {

  /** Postgres column types per the migrations (§1.3), as a name-driven
    * mapping: money/epoch/count columns are BIGINT (never float for
    * money — 0006_charges.sql:8), flags BOOLEAN, percentages DOUBLE
    * (0004_subscriptions.sql application_fee_percent), everything else —
    * ids, statuses, and nested jsonb blobs — text. */
  private val boolCols = Set(
    "paid", "captured", "refunded", "livemode", "deleted", "active",
    "attempted", "auto_advance", "is_charge_refundable", "actionable",
    "open", "delinquent", "is_default", "cancel_at_period_end",
    "allow_promotion_codes", "shippable")
  private val longCols = Set(
    "created", "updated", "amount", "amount_refunded", "amount_capturable",
    "amount_received", "amount_paid", "amount_requested", "amount_due",
    "amount_remaining", "amount_discount", "amount_subtotal", "amount_tax",
    "amount_total", "amount_shipping", "application_fee_amount",
    "out_of_band_amount", "balance", "subtotal", "subtotal_excluding_tax",
    "total", "total_excluding_tax", "quantity", "attempt_count",
    "interval_count", "trial_period_days", "days_until_due",
    "next_invoice_sequence", "period_start", "period_end",
    "current_period_start", "current_period_end", "billing_cycle_anchor",
    "cancel_at", "canceled_at", "ended_at", "start_date", "trial_start",
    "trial_end", "expires_at", "due_date", "voided_at", "released_at",
    "completed_at", "next_payment_attempt", "ending_balance",
    "starting_balance", "post_payment_credit_notes_amount",
    "pre_payment_credit_notes_amount", "discount_amount", "unit_amount")
  private val doubleCols = Set("application_fee_percent", "percent_off")

  def typeOf(c: String): DataType =
    if (boolCols(c)) BooleanType
    else if (longCols(c)) LongType
    else if (doubleCols(c)) DoubleType
    else StringType

  // schemas/product.ts:3-21
  val products = TableDef("products", "product", Seq("prod_"), Seq(
    "id", "object", "active", "default_price", "description", "metadata",
    "name", "created", "images", "marketing_features", "livemode",
    "package_dimensions", "shippable", "statement_descriptor", "unit_label",
    "updated", "url"))

  // schemas/customer.ts:3-31 (+ deleted split 3-col schema, P3)
  val customers = TableDef("customers", "customer", Seq("cus_"), Seq(
    "id", "object", "address", "description", "email", "metadata", "name",
    "phone", "shipping", "balance", "created", "currency", "default_source",
    "delinquent", "discount", "invoice_prefix", "invoice_settings",
    "livemode", "next_invoice_sequence", "preferred_locales", "tax_exempt",
    "deleted"),
    hasDeletedSplit = true)

  // schemas/price.ts
  val prices = TableDef("prices", "price", Seq("price_"), Seq(
    "id", "object", "active", "currency", "metadata", "nickname",
    "recurring", "type", "unit_amount", "billing_scheme", "created",
    "livemode", "lookup_key", "tiers_mode", "transform_quantity",
    "unit_amount_decimal", "product"),
    fkEdges = Map("product" -> "products"))

  // schemas/plan.ts
  val plans = TableDef("plans", "plan", Seq("plan_"), Seq(
    "id", "object", "active", "amount", "created", "product", "currency",
    "interval", "livemode", "metadata", "nickname", "tiers_mode",
    "usage_type", "billing_scheme", "interval_count", "aggregate_usage",
    "transform_usage", "trial_period_days"),
    fkEdges = Map("product" -> "products"))

  // schemas/subscription.ts; terminal statuses stripeSync.ts:189-191
  val subscriptions = TableDef("subscriptions", "subscription",
    Seq("sub_"), Seq(
    "id", "object", "cancel_at_period_end", "current_period_end",
    "current_period_start", "default_payment_method", "items", "metadata",
    "pending_setup_intent", "pending_update", "status",
    "application_fee_percent", "billing_cycle_anchor", "billing_thresholds",
    "cancel_at", "canceled_at", "collection_method", "created",
    "days_until_due", "default_source", "default_tax_rates", "discount",
    "ended_at", "livemode", "next_pending_invoice_item_invoice",
    "pause_collection", "pending_invoice_item_interval", "start_date",
    "transfer_data", "trial_end", "trial_start", "schedule", "customer",
    "latest_invoice", "plan", "billing_mode"),
    fkEdges = Map("customer" -> "customers"),
    terminalStatuses = Set("canceled", "incomplete_expired"))

  // schemas/subscription_item.ts; child of subscriptions (A5 + J3)
  val subscriptionItems = TableDef("subscription_items", "subscription_item",
    Seq("si_"), Seq(
    "id", "object", "billing_thresholds", "created", "deleted", "metadata",
    "quantity", "price", "subscription", "tax_rates",
    "current_period_end", "current_period_start"),
    fkEdges = Map("subscription" -> "subscriptions"))

  // schemas/invoice.ts:3-70; terminal 'void' stripeSync.ts:244
  val invoices = TableDef("invoices", "invoice", Seq("in_"), Seq(
    "id", "object", "auto_advance", "collection_method", "currency",
    "description", "hosted_invoice_url", "lines", "metadata", "period_end",
    "period_start", "status", "total", "account_country", "account_name",
    "account_tax_ids", "amount_due", "amount_paid", "amount_remaining",
    "application_fee_amount", "attempt_count", "attempted",
    "billing_reason", "created", "custom_fields", "customer_address",
    "customer_email", "customer_name", "customer_phone",
    "customer_shipping", "customer_tax_exempt", "customer_tax_ids",
    "default_tax_rates", "discount", "discounts", "due_date",
    "ending_balance", "footer", "invoice_pdf", "last_finalization_error",
    "livemode", "next_payment_attempt", "number", "paid",
    "payment_settings", "post_payment_credit_notes_amount",
    "pre_payment_credit_notes_amount", "receipt_number", "starting_balance",
    "statement_descriptor", "status_transitions", "subtotal", "tax",
    "total_discount_amounts", "total_tax_amounts", "transfer_data",
    "webhooks_delivered_at", "customer", "subscription", "payment_intent",
    "default_payment_method", "default_source", "on_behalf_of", "charge"),
    fkEdges = Map("customer" -> "customers", "subscription" -> "subscriptions"),
    terminalStatuses = Set("void"))

  // schemas/charge.ts:3-43; terminal stripeSync.ts:119
  val charges = TableDef("charges", "charge", Seq("ch_"), Seq(
    "id", "object", "paid", "order", "amount", "review", "source", "status",
    "created", "dispute", "invoice", "outcome", "refunds", "captured",
    "currency", "customer", "livemode", "metadata", "refunded", "shipping",
    "application", "description", "destination", "failure_code",
    "on_behalf_of", "fraud_details", "receipt_email", "payment_intent",
    "receipt_number", "transfer_group", "amount_refunded",
    "application_fee", "failure_message", "source_transfer",
    "balance_transaction", "statement_descriptor", "payment_method_details"),
    fkEdges = Map("customer" -> "customers", "invoice" -> "invoices"),
    terminalStatuses = Set("failed", "succeeded"))

  // schemas/dispute.ts; terminal won/lost stripeSync.ts:421
  val disputes = TableDef("disputes", "dispute", Seq("dp_", "du_"), Seq(
    "id", "object", "amount", "charge", "created", "currency",
    "balance_transactions", "evidence", "evidence_details",
    "is_charge_refundable", "livemode", "metadata", "payment_intent",
    "reason", "status"),
    fkEdges = Map("charge" -> "charges", "payment_intent" -> "payment_intents"),
    terminalStatuses = Set("won", "lost"))

  // schemas/setup_intents.ts; terminal stripeSync.ts:359
  val setupIntents = TableDef("setup_intents", "setup_intent", Seq("seti_"), Seq(
    "id", "object", "created", "customer", "description", "payment_method",
    "status", "usage", "cancellation_reason", "latest_attempt", "mandate",
    "single_use_mandate", "on_behalf_of"),
    fkEdges = Map("customer" -> "customers"),
    terminalStatuses = Set("canceled", "succeeded"))

  // schemas/payment_methods.ts
  val paymentMethods = TableDef("payment_methods", "payment_method", Seq("pm_"), Seq(
    "id", "object", "created", "customer", "type", "billing_details",
    "metadata", "card"),
    fkEdges = Map("customer" -> "customers"))

  // schemas/payment_intent.ts; terminal stripeSync.ts:443
  val paymentIntents = TableDef("payment_intents", "payment_intent", Seq("pi_"), Seq(
    "id", "object", "amount", "amount_capturable", "amount_details",
    "amount_received", "application", "application_fee_amount",
    "automatic_payment_methods", "canceled_at", "cancellation_reason",
    "capture_method", "client_secret", "confirmation_method", "created",
    "currency", "customer", "description", "invoice", "last_payment_error",
    "livemode", "metadata", "next_action", "on_behalf_of", "payment_method",
    "payment_method_options", "payment_method_types", "processing",
    "receipt_email", "review", "setup_future_usage", "shipping",
    "statement_descriptor", "statement_descriptor_suffix", "status",
    "transfer_data", "transfer_group"),
    fkEdges = Map("customer" -> "customers", "invoice" -> "invoices"),
    terminalStatuses = Set("canceled", "succeeded"))

  // schemas/subscription_schedules.ts; terminal stripeSync.ts:379
  val subscriptionSchedules = TableDef("subscription_schedules",
    "subscription_schedule", Seq("sub_sched_"), Seq(
    "id", "object", "application", "canceled_at", "completed_at", "created",
    "current_phase", "customer", "default_settings", "end_behavior",
    "livemode", "metadata", "phases", "released_at",
    "released_subscription", "status", "subscription", "test_clock",
    "billing_mode"),
    fkEdges = Map("customer" -> "customers"),
    terminalStatuses = Set("canceled", "completed"))

  // schemas/tax_id.ts
  val taxIds = TableDef("tax_ids", "tax_id", Seq("txi_"), Seq(
    "id", "country", "customer", "type", "value", "object", "created",
    "livemode", "owner"),
    fkEdges = Map("customer" -> "customers"))

  // schemas/credit_note.ts; terminal 'void' stripeSync.ts:464
  val creditNotes = TableDef("credit_notes", "credit_note", Seq("cn_"), Seq(
    "id", "object", "amount", "amount_shipping", "created", "currency",
    "customer", "customer_balance_transaction", "discount_amount",
    "discount_amounts", "invoice", "lines", "livemode", "memo", "metadata",
    "number", "out_of_band_amount", "pdf", "reason", "refund",
    "shipping_cost", "status", "subtotal", "subtotal_excluding_tax",
    "tax_amounts", "total", "total_excluding_tax", "type", "voided_at"),
    fkEdges = Map("customer" -> "customers", "invoice" -> "invoices"),
    terminalStatuses = Set("void"))

  // schemas/early_fraud_warning.ts
  val earlyFraudWarnings = TableDef("early_fraud_warnings",
    "radar.early_fraud_warning", Seq("issfr_"), Seq(
    "id", "object", "actionable", "charge", "created", "fraud_type",
    "livemode", "payment_intent"),
    fkEdges = Map("charge" -> "charges", "payment_intent" -> "payment_intents"))

  // schemas/review.ts
  val reviews = TableDef("reviews", "review", Seq("prv_"), Seq(
    "id", "object", "billing_zip", "created", "charge", "closed_reason",
    "livemode", "ip_address", "ip_address_location", "open",
    "opened_reason", "payment_intent", "reason", "session"),
    fkEdges = Map("charge" -> "charges", "payment_intent" -> "payment_intents"))

  // schemas/refund.ts
  val refunds = TableDef("refunds", "refund", Seq("re_", "pyr_"), Seq(
    "id", "object", "amount", "balance_transaction", "charge", "created",
    "currency", "destination_details", "metadata", "payment_intent",
    "reason", "receipt_number", "source_transfer_reversal", "status",
    "transfer_reversal"),
    fkEdges = Map("charge" -> "charges", "payment_intent" -> "payment_intents"))

  // schemas/checkout_sessions.ts:3-70
  val checkoutSessions = TableDef("checkout_sessions", "checkout.session",
    Seq("cs_"), Seq(
    "id", "object", "adaptive_pricing", "after_expiration",
    "allow_promotion_codes", "amount_subtotal", "amount_total",
    "automatic_tax", "billing_address_collection", "cancel_url",
    "client_reference_id", "client_secret", "collected_information",
    "consent", "consent_collection", "created", "currency",
    "currency_conversion", "custom_fields", "custom_text", "customer",
    "customer_creation", "customer_details", "customer_email", "discounts",
    "expires_at", "invoice", "invoice_creation", "livemode", "locale",
    "metadata", "mode", "optional_items", "payment_intent", "payment_link",
    "payment_method_collection", "payment_method_configuration_details",
    "payment_method_options", "payment_method_types", "payment_status",
    "permissions", "phone_number_collection", "presentment_details",
    "recovered_from", "redirect_on_completion", "return_url",
    "saved_payment_method_options", "setup_intent",
    "shipping_address_collection", "shipping_cost", "shipping_details",
    "shipping_options", "status", "submit_type", "subscription",
    "success_url", "tax_id_collection", "total_details", "ui_mode", "url",
    "wallet_options"),
    fkEdges = Map("customer" -> "customers", "subscription" -> "subscriptions",
      "payment_intent" -> "payment_intents", "invoice" -> "invoices"))

  // schemas/checkout_session_line_items.ts; child of checkout_sessions (A6)
  val checkoutSessionLineItems = TableDef("checkout_session_line_items",
    "item", Seq("li_"), Seq(
    "id", "object", "amount_discount", "amount_subtotal", "amount_tax",
    "amount_total", "currency", "description", "price", "quantity",
    "checkout_session"),
    fkEdges = Map("price" -> "prices", "checkout_session" -> "checkout_sessions"))

  // schemas/feature.ts
  val features = TableDef("features", "entitlements.feature", Seq("feat_"), Seq(
    "id", "object", "livemode", "name", "lookup_key", "active", "metadata"))

  // schemas/active_entitlement.ts; delta-synced (J4)
  val activeEntitlements = TableDef("active_entitlements",
    "entitlements.active_entitlement", Seq("ent_"), Seq(
    "id", "object", "feature", "lookup_key", "livemode", "customer"),
    fkEdges = Map("customer" -> "customers", "feature" -> "features"))

  // schemas/invoice_payment.ts
  val invoicePayments = TableDef("invoice_payments", "invoice_payment",
    Seq("inpay_"), Seq(
    "id", "object", "amount_paid", "amount_requested", "created", "currency",
    "invoice", "is_default", "livemode", "payment", "status",
    "status_transitions"),
    fkEdges = Map("invoice" -> "invoices"))

  // 0007_coupons.sql / 0009_events.sql / 0010_payouts.sql: tables exist
  // but the engine never writes them (§1.2) — kept for DDL parity.
  val coupons = TableDef("coupons", "coupon", Seq("coup_"), Seq(
    "id", "object", "name", "valid", "created", "updated", "currency",
    "duration", "livemode", "metadata", "redeem_by", "amount_off",
    "percent_off", "times_redeemed", "max_redemptions",
    "duration_in_months"))
  val events = TableDef("events", "event", Seq("evt_"), Seq(
    "id", "object", "data", "type", "created", "request", "livemode",
    "api_version", "pending_webhooks"))
  val payouts = TableDef("payouts", "payout", Seq("po_"), Seq(
    "id", "object", "date", "type", "amount", "method", "status",
    "created", "currency", "livemode", "metadata", "automatic",
    "recipient", "description", "destination", "source_type",
    "arrival_date", "bank_account", "failure_code", "transfer_group",
    "amount_reversed", "failure_message", "source_transaction",
    "balance_transaction", "statement_descriptor", "statement_description",
    "failure_balance_transaction"))

  /** All actively-written tables (22, §1.2). */
  val active: Seq[TableDef] = Seq(
    products, customers, prices, plans, subscriptions, subscriptionItems,
    invoices, charges, disputes, setupIntents, paymentMethods,
    paymentIntents, subscriptionSchedules, taxIds, creditNotes,
    earlyFraudWarnings, reviews, refunds, checkoutSessions,
    checkoutSessionLineItems, features, activeEntitlements, invoicePayments)

  /** All tables incl. never-written ones (28 post-migration). */
  val all: Seq[TableDef] = active ++ Seq(coupons, events, payouts)

  val byTable: Map[String, TableDef] = all.map(t => t.table -> t).toMap

  /** S6 point-lookup dispatch: longest-prefix-first id → TableDef
    * (stripeSync.ts:606-662). */
  def forStripeId(id: String): Option[TableDef] =
    all.flatMap(t => t.idPrefixes.filter(id.startsWith).map(_ -> t))
      .sortBy(-_._1.length).headOption.map(_._2)
}
