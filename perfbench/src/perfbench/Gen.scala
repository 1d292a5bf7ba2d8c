package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded generator of Stripe-shaped webhook deliveries and entity
  * objects for the benchmark workloads.
  *
  * Plain Scala with no Spark or engine dependency: an engine change can
  * neither speed up nor slow down the load, and the same seed always
  * yields byte-identical inputs (`GenCheck` asserts it). Ids and free
  * text are random base-62, so parquet cannot compress them away, and
  * payload sizes follow Stripe's shapes: ~1 KB products and customers,
  * ~2 KB charges, payment intents and subscriptions, 3-5 KB invoices.
  */
object Gen {

  /** Event created-times start here (2100-01-01, epoch seconds): after
    * any wall clock a run sees, so every event follows the backfill scan
    * that loaded the mirror (which stamps its rows with the scan's time),
    * as live traffic follows an initial sync. Scanned objects carry
    * earlier `created` values. */
  val T0 = 4102444800L

  sealed trait Kind
  case object Upsert extends Kind
  case object SoftDelete extends Kind
  case object HardDelete extends Kind
  case object Unrouted extends Kind
  case object Malformed extends Kind

  /** One webhook delivery. `line` is the raw text the engine receives;
    * the other fields are what the reference model folds. `eventId` is
    * null for a delivery whose text is not JSON. `items` lists the
    * subscription item ids a subscription event carries. */
  final case class Delivery(eventId: String, kind: Kind, eventType: String,
      table: String, entityId: String, created: Long, items: Vector[String],
      line: String)

  /** One entity object as a backfill scan serves it; `parent` is the
    * owning subscription of a subscription item. */
  final case class Obj(table: String, id: String, created: Long, json: String,
      parent: String = null)

  /** A row of the generated business data joined by the dashboard. */
  final case class BizCustomer(custkey: Long, name: String, nationkey: Long,
      acctbal: Long, segment: String)

  /** A workload's inputs: the objects a backfill scan serves, then the
    * webhook stream in delivery order, cut into batches. */
  final case class Inputs(objects: Vector[Obj], batches: Vector[Vector[Delivery]]) {
    def digest: String = Gen.digest(objects.iterator.map(_.json) ++ batches.iterator.flatten.map(_.line))
  }

  private val Alphabet =
    "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"

  final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def long(lo: Long, hi: Long): Long = r.nextLong(lo, hi)
    def double(): Double = r.nextDouble()
    def chance(p: Double): Boolean = r.nextDouble() < p
    def text(n: Int): String = {
      val cs = new Array[Char](n)
      var i = 0
      while (i < n) { cs(i) = Alphabet.charAt(r.nextInt(62)); i += 1 }
      new String(cs)
    }
    def id(prefix: String): String = prefix + text(24)
    def pick[A](xs: collection.IndexedSeq[A]): A = xs(r.nextInt(xs.size))
    def weighted[A](ws: Seq[(A, Double)]): A = {
      var x = r.nextDouble() * ws.map(_._2).sum
      ws.find { case (_, w) => x -= w; x < 0 }.getOrElse(ws.last)._1
    }
  }

  // ---- JSON text -------------------------------------------------------

  private def q(s: String) = "\"" + s + "\""
  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  private val Null = "null"

  private def address(r: Rng) = obj("city" -> q(r.text(10)), "country" -> q("US"),
    "line1" -> q(r.text(24)), "line2" -> Null, "postal_code" -> q(r.text(5)),
    "state" -> q("CA"))
  private def metadata(r: Rng, extra: (String, String)*) =
    obj((extra :+ ("note" -> q(r.text(120)))): _*)

  private def customerJson(r: Rng, id: String, created: Long, erpKey: Long) = obj(
    "id" -> q(id), "object" -> q("customer"), "address" -> address(r),
    "balance" -> r.long(-5000, 5000).toString, "created" -> created.toString,
    "currency" -> q("usd"), "default_source" -> Null, "delinquent" -> "false",
    "description" -> q(r.text(80)), "discount" -> Null,
    "email" -> q(r.text(12) + "@example.com"), "invoice_prefix" -> q(r.text(8)),
    "invoice_settings" -> obj("custom_fields" -> Null,
      "default_payment_method" -> q(r.id("pm_")), "footer" -> Null),
    "livemode" -> "false",
    "metadata" -> metadata(r, "erp_custkey" -> q(erpKey.toString)),
    "name" -> q(r.text(10) + " " + r.text(12)),
    "next_invoice_sequence" -> r.int(40).toString,
    "phone" -> q("+1" + r.long(2000000000L, 9999999999L)),
    "preferred_locales" -> arr(Seq(q("en"))),
    "shipping" -> obj("address" -> address(r), "name" -> q(r.text(14)),
      "phone" -> Null),
    "tax_exempt" -> q("none"))

  private def priceJson(r: Rng, priceId: String, product: String) = obj(
    "id" -> q(priceId), "object" -> q("price"), "active" -> "true",
    "currency" -> q("usd"), "product" -> q(product),
    "recurring" -> obj("interval" -> q("month"), "interval_count" -> "1"),
    "unit_amount" -> r.long(100, 50000).toString)

  final case class Item(id: String, price: String, product: String)

  private def itemJson(r: Rng, it: Item, sub: String, created: Long,
      priceAsObject: Boolean) = obj(
    "id" -> q(it.id), "object" -> q("subscription_item"),
    "billing_thresholds" -> Null, "created" -> created.toString,
    "metadata" -> obj(),
    "price" -> (if (priceAsObject) priceJson(r, it.price, it.product) else q(it.price)),
    "quantity" -> (1 + r.int(5)).toString, "subscription" -> q(sub),
    "tax_rates" -> arr(Nil), "deleted" -> "false",
    "current_period_start" -> created.toString,
    "current_period_end" -> (created + 2592000L).toString)

  private val SubStatuses = Vector("active", "active", "active", "trialing",
    "past_due", "canceled")

  private def subscriptionJson(r: Rng, id: String, customer: String,
      created: Long, items: Seq[Item]) = obj(
    "id" -> q(id), "object" -> q("subscription"),
    "cancel_at_period_end" -> "false",
    "current_period_end" -> (created + 2592000L).toString,
    "current_period_start" -> created.toString, "customer" -> q(customer),
    "items" -> obj("object" -> q("list"),
      "data" -> arr(items.map(it => itemJson(r, it, id, created, priceAsObject = true))),
      "has_more" -> "false", "total_count" -> items.size.toString,
      "url" -> q("/v1/subscription_items?subscription=" + id)),
    "metadata" -> metadata(r), "status" -> q(r.pick(SubStatuses)),
    "collection_method" -> q("charge_automatically"),
    "created" -> created.toString, "livemode" -> "false",
    "start_date" -> created.toString, "latest_invoice" -> q(r.id("in_")),
    "default_payment_method" -> q(r.id("pm_")))

  private val InvoiceStatuses = Vector("paid", "paid", "open", "draft", "void",
    "uncollectible")

  private def invoiceJson(r: Rng, id: String, customer: String, sub: String,
      created: Long) = {
    val lines = (0 until 3 + r.int(5)).map { _ =>
      obj("id" -> q(r.id("il_")), "object" -> q("line_item"),
        "amount" -> r.long(100, 90000).toString, "currency" -> q("usd"),
        "description" -> q(r.text(60)), "period" -> obj(
          "end" -> (created + 2592000L).toString, "start" -> created.toString),
        "price" -> q(r.id("price_")), "quantity" -> (1 + r.int(5)).toString,
        "metadata" -> obj("sku" -> q(r.text(16))))
    }
    val due = r.long(1000, 200000)
    val status = r.pick(InvoiceStatuses)
    obj("id" -> q(id), "object" -> q("invoice"), "account_country" -> q("US"),
      "account_name" -> q(r.text(16)), "amount_due" -> due.toString,
      "amount_paid" -> (if (status == "paid") due else 0L).toString,
      "amount_remaining" -> (if (status == "paid") 0L else due).toString,
      "attempt_count" -> r.int(4).toString, "attempted" -> "true",
      "auto_advance" -> "true", "billing_reason" -> q("subscription_cycle"),
      "collection_method" -> q("charge_automatically"),
      "created" -> created.toString, "currency" -> q("usd"),
      "customer" -> q(customer), "customer_address" -> address(r),
      "customer_email" -> q(r.text(12) + "@example.com"),
      "customer_name" -> q(r.text(20)), "description" -> q(r.text(40)),
      "hosted_invoice_url" -> q("https://invoice.example.com/i/" + r.text(48)),
      "invoice_pdf" -> q("https://invoice.example.com/p/" + r.text(48)),
      "lines" -> obj("object" -> q("list"), "data" -> arr(lines),
        "has_more" -> "false", "total_count" -> lines.size.toString),
      "livemode" -> "false", "metadata" -> metadata(r),
      "number" -> q(r.text(12)), "paid" -> (status == "paid").toString,
      "period_end" -> created.toString,
      "period_start" -> (created - 2592000L).toString,
      "status" -> q(status), "subscription" -> q(sub),
      "subtotal" -> due.toString, "total" -> due.toString,
      "status_transitions" -> obj("finalized_at" -> created.toString,
        "paid_at" -> Null))
  }

  private val ChargeStatuses = Vector("succeeded", "succeeded", "succeeded",
    "failed", "pending")

  private def chargeJson(r: Rng, id: String, customer: String, invoice: String,
      pi: String, created: Long) = {
    val status = r.pick(ChargeStatuses)
    obj("id" -> q(id), "object" -> q("charge"),
      "amount" -> r.long(100, 200000).toString, "amount_refunded" -> "0",
      "balance_transaction" -> q(r.id("txn_")),
      "billing_details" -> obj("address" -> address(r),
        "email" -> q(r.text(12) + "@example.com"), "name" -> q(r.text(16))),
      "captured" -> "true", "created" -> created.toString,
      "currency" -> q("usd"), "customer" -> q(customer),
      "description" -> q(r.text(40)), "invoice" -> q(invoice),
      "livemode" -> "false", "metadata" -> metadata(r),
      "outcome" -> obj("network_status" -> q("approved_by_network"),
        "risk_level" -> q("normal"), "risk_score" -> r.int(100).toString,
        "seller_message" -> q(r.text(30)), "type" -> q("authorized")),
      "paid" -> (status == "succeeded").toString, "payment_intent" -> q(pi),
      "payment_method" -> q(r.id("pm_")),
      "payment_method_details" -> obj("card" -> obj("brand" -> q("visa"),
        "exp_month" -> (1 + r.int(12)).toString, "exp_year" -> "2030",
        "fingerprint" -> q(r.text(16)), "last4" -> q(r.text(4)),
        "network" -> q("visa")), "type" -> q("card")),
      "receipt_url" -> q("https://pay.example.com/receipts/" + r.text(64)),
      "refunded" -> "false", "status" -> q(status))
  }

  private def paymentIntentJson(r: Rng, id: String, customer: String,
      invoice: String, created: Long) = {
    val amount = r.long(100, 200000)
    obj("id" -> q(id), "object" -> q("payment_intent"),
      "amount" -> amount.toString, "amount_capturable" -> "0",
      "amount_received" -> amount.toString, "capture_method" -> q("automatic"),
      "client_secret" -> q(id + "_secret_" + r.text(24)),
      "confirmation_method" -> q("automatic"), "created" -> created.toString,
      "currency" -> q("usd"), "customer" -> q(customer),
      "description" -> q(r.text(40)), "invoice" -> q(invoice),
      "latest_charge" -> q(r.id("ch_")), "livemode" -> "false",
      "metadata" -> metadata(r), "payment_method" -> q(r.id("pm_")),
      "payment_method_options" -> obj("card" -> obj(
        "request_three_d_secure" -> q("automatic"))),
      "payment_method_types" -> arr(Seq(q("card"))),
      "status" -> q(r.pick(Vector("succeeded", "processing", "requires_action"))))
  }

  private def productJson(r: Rng, id: String, created: Long) = obj(
    "id" -> q(id), "object" -> q("product"), "active" -> "true",
    "created" -> created.toString, "default_price" -> q(r.id("price_")),
    "description" -> q(r.text(120)), "images" -> arr(Nil),
    "livemode" -> "false", "metadata" -> metadata(r),
    "name" -> q(r.text(18)), "updated" -> created.toString)

  // ---- the entity universe ----------------------------------------------

  private final case class Sub(id: String, customer: String, var items: Vector[Item])
  private final case class Inv(id: String, customer: String, sub: String)
  private final case class Pi(id: String, customer: String, invoice: String)
  private final case class Ch(id: String, customer: String, invoice: String, pi: String)

  /** Live entities the stream updates. `n` rows per hot table; items
    * are ~2 per subscription. */
  private final class Universe(r: Rng, n: Int, nProducts: Int) {
    val products = mutable.ArrayBuffer.fill(nProducts)(r.id("prod_"))
    val prices = Vector.fill(math.max(1, nProducts) * 2)(
      (r.id("price_"), if (products.isEmpty) r.id("prod_") else r.pick(products)))
    val customers = mutable.ArrayBuffer.fill(n)(r.id("cus_"))
    val erpKey = mutable.HashMap.empty[String, Long]
    customers.foreach(c => erpKey(c) = 1L + r.int(BizCustomers))
    def newItem(): Item = { val (p, prod) = r.pick(prices); Item(r.id("si_"), p, prod) }
    val subs = mutable.ArrayBuffer.fill(n)(
      Sub(r.id("sub_"), r.pick(customers), Vector.fill(1 + r.int(3))(newItem())))
    val invoices = mutable.ArrayBuffer.fill(n)(
      Inv(r.id("in_"), r.pick(customers), r.pick(subs).id))
    val pis = mutable.ArrayBuffer.fill(n)(
      Pi(r.id("pi_"), r.pick(customers), r.pick(invoices).id))
    val charges = mutable.ArrayBuffer.fill(n)({
      val p = r.pick(pis); Ch(r.id("ch_"), p.customer, p.invoice, p.id)
    })
    val deletedCustomers = mutable.HashSet.empty[String]

    def addCustomer(): String = {
      val c = r.id("cus_"); customers += c; erpKey(c) = 1L + r.int(BizCustomers); c
    }
    def liveCustomer(): String = {
      var c = r.pick(customers)
      while (deletedCustomers(c)) c = r.pick(customers)
      c
    }

    /** Every live object as of `ts`, for seeding or serving a scan;
      * subscription items are their own rows (price as a plain id). */
    def snapshot(ts: Long => Long): Vector[Obj] = {
      val out = Vector.newBuilder[Obj]
      products.foreach { p => val t = ts(0); out += Obj("products", p, t, productJson(r, p, t)) }
      customers.foreach { c =>
        val t = ts(1); out += Obj("customers", c, t, customerJson(r, c, t, erpKey(c)))
      }
      subs.foreach { s =>
        val t = ts(2)
        out += Obj("subscriptions", s.id, t, subscriptionJson(r, s.id, s.customer, t, s.items))
        s.items.foreach(it => out += Obj("subscription_items", it.id, t,
          itemJson(r, it, s.id, t, priceAsObject = false), s.id))
      }
      invoices.foreach { i =>
        val t = ts(3); out += Obj("invoices", i.id, t, invoiceJson(r, i.id, i.customer, i.sub, t))
      }
      pis.foreach { p =>
        val t = ts(4); out += Obj("payment_intents", p.id, t,
          paymentIntentJson(r, p.id, p.customer, p.invoice, t))
      }
      charges.foreach { c =>
        val t = ts(5); out += Obj("charges", c.id, t,
          chargeJson(r, c.id, c.customer, c.invoice, c.pi, t))
      }
      out.result()
    }
  }

  // ---- webhook stream -----------------------------------------------------

  private def envelope(r: Rng, evtId: String, tpe: String, created: Long,
      payload: String) = obj(
    "id" -> q(evtId), "object" -> q("event"), "api_version" -> q("2024-06-20"),
    "created" -> created.toString,
    "data" -> obj("object" -> payload,
      "previous_attributes" -> obj("metadata" -> obj("note" -> q(r.text(24))))),
    "livemode" -> "false", "pending_webhooks" -> "1",
    "request" -> obj("id" -> q(r.id("req_")), "idempotency_key" -> q(r.text(36))),
    "type" -> q(tpe))

  /** Event-type mix of normal webhook traffic (weights in percent).
    *
    * The weights are an assumption, neither measured nor taken from a
    * published source; they follow the entity families a subscription
    * business updates most. Only the redelivery, delete and unroutable/malformed
    * rates are part of the workload's definition. A batch's cost is set
    * by which tables it touches (each touched table is one merge chain
    * and one rewrite), and at these rates every 500-delivery batch
    * touches every hot table (`GenCheck` asserts it), so moderate changes
    * to the weights do not move it. */
  private val SteadyMix: Seq[(String, Double)] = Seq(
    "customer.updated" -> 11.0, "customer.created" -> 1.5,
    "customer.deleted" -> 0.5,
    "customer.subscription.updated" -> 13.0,
    "invoice.updated" -> 8.0, "invoice.paid" -> 7.0, "invoice.finalized" -> 6.0,
    "invoice.created" -> 1.5,
    "charge.succeeded" -> 10.0, "charge.updated" -> 6.0, "charge.failed" -> 2.0,
    "payment_intent.succeeded" -> 10.0, "payment_intent.processing" -> 5.0,
    "payment_intent.created" -> 2.5,
    "product.updated" -> 1.5, "product.deleted" -> 0.5,
    "payout.paid" -> 0.15, "balance.available" -> 0.15,
    "malformed" -> 0.2)

  /** Catch-up traffic: the same entity families (weights likewise
    * assumed), creates weighted up because the outage's new objects are
    * missing from the scan. */
  private val CatchupMix: Seq[(String, Double)] = Seq(
    "customer.created" -> 8.0, "customer.updated" -> 8.0,
    "customer.deleted" -> 0.5,
    "customer.subscription.created" -> 5.0,
    "customer.subscription.updated" -> 9.0,
    "invoice.created" -> 6.0, "invoice.paid" -> 10.0, "invoice.updated" -> 6.0,
    "charge.succeeded" -> 14.0, "charge.updated" -> 4.0,
    "payment_intent.created" -> 6.0, "payment_intent.succeeded" -> 12.0,
    "product.updated" -> 1.5, "product.deleted" -> 0.5,
    "payout.paid" -> 0.15, "balance.available" -> 0.15,
    "malformed" -> 0.2)

  private final class Stream(r: Rng, u: Universe, mix: Seq[(String, Double)]) {
    private def delivery(tpe: String, created: Long): Delivery = {
      val evt = r.id("evt_")
      def up(table: String, id: String, payload: String, items: Vector[String] = Vector.empty) =
        Delivery(evt, Upsert, tpe, table, id, created, items,
          envelope(r, evt, tpe, created, payload))
      tpe match {
        case "customer.created" =>
          val c = u.addCustomer()
          up("customers", c, customerJson(r, c, created, u.erpKey(c)))
        case "customer.updated" =>
          val c = u.liveCustomer()
          up("customers", c, customerJson(r, c, created, u.erpKey(c)))
        case "customer.deleted" =>
          val c = u.liveCustomer()
          u.deletedCustomers += c
          Delivery(evt, SoftDelete, tpe, "customers", c, created, Vector.empty,
            envelope(r, evt, tpe, created,
              obj("id" -> q(c), "object" -> q("customer"), "deleted" -> "true")))
        case "customer.subscription.created" =>
          val s = Sub(r.id("sub_"), u.liveCustomer(), Vector.fill(1 + r.int(3))(u.newItem()))
          u.subs += s
          up("subscriptions", s.id,
            subscriptionJson(r, s.id, s.customer, created, s.items), s.items.map(_.id))
        case "customer.subscription.updated" =>
          val s = r.pick(u.subs)
          // a fifth of updates change the plan: one item is replaced (the
          // old one vanishes from the mirror) or one is added
          if (r.chance(0.2)) {
            val it = u.newItem()
            s.items =
              if (s.items.size > 1 && r.chance(0.6)) s.items.updated(r.int(s.items.size), it)
              else s.items :+ it
          }
          up("subscriptions", s.id,
            subscriptionJson(r, s.id, s.customer, created, s.items), s.items.map(_.id))
        case t if t.startsWith("invoice.") =>
          val i =
            if (t == "invoice.created") {
              val i = Inv(r.id("in_"), u.liveCustomer(), r.pick(u.subs).id)
              u.invoices += i; i
            } else r.pick(u.invoices)
          up("invoices", i.id, invoiceJson(r, i.id, i.customer, i.sub, created))
        case t if t.startsWith("charge.") =>
          val c = r.pick(u.charges)
          up("charges", c.id, chargeJson(r, c.id, c.customer, c.invoice, c.pi, created))
        case t if t.startsWith("payment_intent.") =>
          val p =
            if (t == "payment_intent.created") {
              val p = Pi(r.id("pi_"), u.liveCustomer(), r.pick(u.invoices).id)
              u.pis += p; p
            } else r.pick(u.pis)
          up("payment_intents", p.id, paymentIntentJson(r, p.id, p.customer, p.invoice, created))
        case "product.updated" =>
          val p = r.pick(u.products)
          up("products", p, productJson(r, p, created))
        case "product.deleted" =>
          val p = r.pick(u.products)
          Delivery(evt, HardDelete, tpe, "products", p, created, Vector.empty,
            envelope(r, evt, tpe, created,
              obj("id" -> q(p), "object" -> q("product"), "deleted" -> "true")))
        case "malformed" =>
          // half are not JSON at all (a proxy error page), half are
          // envelopes whose data.object is missing
          if (r.chance(0.5))
            Delivery(null, Malformed, null, "", null, created, Vector.empty,
              "<html><body>502 Bad Gateway " + r.text(40) + "</body></html>")
          else
            Delivery(evt, Malformed, "customer.updated", "", null, created, Vector.empty,
              obj("id" -> q(evt), "object" -> q("event"), "created" -> created.toString,
                "data" -> obj(), "type" -> q("customer.updated")))
        case other => // a well-formed type the engine does not route
          Delivery(evt, Unrouted, other, "", null, created, Vector.empty,
            envelope(r, evt, other, created,
              obj("id" -> q(r.id("po_")), "object" -> q("payout"),
                "amount" -> r.long(100, 100000).toString)))
      }
    }

    /** `n` deliveries in creation order, four per second of event time,
      * so unrelated events share `created` values; `tieRate` of the
      * upserts get a twin for the same object with the same `created`
      * and a different event id (the LWW tie-break case). */
    def created(n: Int, start: Long, tieRate: Double): Vector[Delivery] = {
      val out = Vector.newBuilder[Delivery]
      var i = 0
      while (i < n) {
        val t = start + i / 4
        val d = delivery(r.weighted(mix), t)
        out += d
        if (d.kind == Upsert && r.chance(tieRate)) {
          // same object, same second, new event id and changed content
          val evt = r.id("evt_")
          out += d.copy(eventId = evt, line = d.line.replace(d.eventId, evt)
            .replace("\"note\":\"", "\"note\":\"" + r.text(8)))
        }
        i += 1
      }
      out.result()
    }
  }

  /** Deliver `events` through a reorder window of `window` positions and
    * add redeliveries: after each delivery, with probability `redeliver`
    * an exact copy of one of the previous `lookback` deliveries follows
    * (so some land in the same batch and some in a later one). */
  private def deliver(r: Rng, events: Vector[Delivery], window: Int,
      redeliver: Double, lookback: Int): Vector[Delivery] = {
    val reordered = events.zipWithIndex
      .map { case (d, i) => (i + r.double() * window, d) }
      .sortBy(_._1).map(_._2)
    val out = mutable.ArrayBuffer.empty[Delivery]
    reordered.foreach { d =>
      out += d
      if (r.chance(redeliver)) {
        val from = math.max(0, out.size - lookback)
        out += out(from + r.int(out.size - from))
      }
    }
    out.toVector
  }

  /** SHA-256 over `texts`, newline-separated: the input fingerprint a
    * result records, equal for equal seeds. */
  def digest(texts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    texts.foreach { t =>
      md.update(t.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  val BizCustomers = 15000 // TPC-H customer cardinality at sf0.1
  val BizNations = 25

  def bizCustomers(seed: Long): Vector[BizCustomer] = {
    val r = new Rng(seed ^ 0x6a09e667f3bcc909L)
    val segs = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    Vector.tabulate(BizCustomers)(i => BizCustomer(i + 1L, "Customer#" + r.text(9),
      r.int(BizNations).toLong, r.long(-99999, 999999), r.pick(segs)))
  }

  /** `steady`: the `n` objects per hot table (plus ~2n subscription
    * items and n/10 products) that warm the mirror, then `nBatches`
    * batches of `batchSize` deliveries of normal traffic: ~5%
    * redeliveries, a 40-delivery reorder window, ~1% same-second twins. */
  def steady(seed: Long, n: Int, batchSize: Int, nBatches: Int): Inputs = {
    val r = new Rng(seed)
    val u = new Universe(r, n, math.max(10, n / 10))
    val objects = u.snapshot(k => T0 - 86400L * (1 + k) - r.long(0, 86400L * 30))
    val s = new Stream(r, u, SteadyMix)
    val events = s.created((batchSize * nBatches * 0.98).toInt + 1, T0, tieRate = 0.01)
    val delivered = deliver(r, events, window = 40, redeliver = 0.05, lookback = 2 * batchSize)
    Inputs(objects, delivered.take(batchSize * nBatches).grouped(batchSize).toVector)
  }

  /** `catchup`: bringing an empty mirror current — the `n` objects per
    * core type (customers, subscriptions and their items, invoices,
    * payment intents, charges; plus n/10 products) a backfill scan
    * serves, then the outage's webhook backlog over the same objects:
    * `nBatches` batches of `batchSize` deliveries with creates weighted
    * up, a 200-delivery reorder window and ~30% redeliveries, drawn
    * from the previous 2 x `batchSize` deliveries. */
  def catchup(seed: Long, n: Int, batchSize: Int, nBatches: Int): Inputs = {
    val r = new Rng(seed)
    val u = new Universe(r, n, math.max(10, n / 10))
    val objects = u.snapshot(k => T0 - 86400L * (1 + k) - r.long(0, 86400L * 30))
    val s = new Stream(r, u, CatchupMix)
    val events = s.created((batchSize * nBatches * 0.74).toInt + 1, T0, tieRate = 0.01)
    val delivered = deliver(r, events, window = 200, redeliver = 0.43, lookback = 2 * batchSize)
    Inputs(objects, delivered.take(batchSize * nBatches).grouped(batchSize).toVector)
  }
}
