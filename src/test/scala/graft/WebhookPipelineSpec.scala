package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.model.TableDefs
import graft.sources.StripeEvents
import graft.streaming.WebhookPipeline

/** End-to-end webhook pipeline tests, mirroring the reference's E2E suite
  * (webhooks.test.ts): drive the golden fixture corpus through the
  * pipeline and assert sink rows, out-of-order protection, delete
  * handling, and child normalization. Fixture JSONs are read at runtime
  * from the reference's test corpus when present (data, not code). */
class WebhookPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val fixtureDir =
    "/root/reference/packages/fastify-app/src/test/stripe"

  private def fixtures(): Seq[String] =
    if (Files.exists(Paths.get(fixtureDir)))
      Files.list(Paths.get(fixtureDir)).iterator().asScala
        .filter(_.toString.endsWith(".json"))
        .map(p => new String(Files.readAllBytes(p)))
        .map(_.replaceAll("\n", " "))
        .toSeq
    else Seq.empty

  private def readTable(dir: String, table: String) =
    spark.read.parquet(s"$dir/$table")

  test("golden fixture corpus lands rows in the routed tables with last_synced_at = event.created") {
    val fx = fixtures()
    assume(fx.nonEmpty, "reference fixture corpus not present")
    val dir = tmpDir("graft_wh")
    val pipeline = new WebhookPipeline(dir)
    pipeline.processBatch(fx.toDF("value"))

    // every routed upsert event must be present in its table — except ids
    // that also got a delete/deleted-split event in the same batch (the
    // corpus reuses entity ids across created/deleted fixtures; batch
    // semantics resolve those to deleted, see StripeEvents.route).
    val envelope = StripeEvents.parseEnvelope(fx.toDF("value"))
      .select("event_type", "payload", "created").collect()
    val deletedIds = envelope.flatMap { r =>
      StripeEvents.routes.get(r.getString(0)).collect {
        case (_, StripeEvents.Delete) | (_, StripeEvents.DeletedUpsert) =>
          spark.range(1).select(
            get_json_object(lit(r.getString(1)), "$.id").as("id")).head().getString(0)
      }
    }.filter(_ != null).toSet
    // expected sync ts per (table, id) = max event.created across the
    // batch (LWW keeps the newest; sync ts semantics stripeSync.ts:580-582)
    val expected = envelope.flatMap { r =>
      StripeEvents.routes.get(r.getString(0)).collect {
        case (tdef, StripeEvents.Upsert) =>
          val idVal = spark.range(1).select(
            get_json_object(lit(r.getString(1)), "$.id").as("id")).head().getString(0)
          ((tdef.table, idVal), r.getLong(2))
      }
    }.filter(_._1._2 != null)
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    var checked = 0
    expected.foreach { case ((table, idVal), maxCreated) =>
      if (!deletedIds.contains(idVal)) {
        val row = readTable(dir, table).filter(col("id") === idVal)
          .select("id", "last_synced_at").collect()
        assert(row.nonEmpty, s"missing $idVal in $table")
        assert(row.head.getTimestamp(1).getTime / 1000 == maxCreated,
          s"last_synced_at mismatch for $idVal in $table")
        checked += 1
      }
    }
    // 71 fixtures collapse to ~27 distinct upsertable entity ids (the
    // corpus reuses ids across created/updated/deleted variants)
    assert(checked >= 25, s"only $checked fixture rows checked")
  }

  test("poison rows: null-id payloads are dropped at the sink, valid rows land, no junk accumulates") {
    import graft.operators.MergeSink
    val dir = tmpDir("graft_poison")
    val good = """{"id":"cus_ok","object":"customer","email":"a@b.c","created":10}"""
    val bad = """{"object":"customer","email":"no-id@b.c","created":11}""" // id missing
    val garbage = """not json at all"""
    def upsert(payloads: String*): Unit = {
      val rows = TableDefs.customers.projectFrom(
        payloads.toDF("payload"), "payload", current_timestamp())
      MergeSink.upsertParquet(rows, dir, TableDefs.customers)
    }
    upsert(good, bad, garbage)
    val after1 = readTable(dir, "customers")
    assert(after1.count() == 1)
    assert(after1.select("id").as[String].head() == "cus_ok")
    // replaying the poison batch must not grow the table (the old
    // behavior appended one null-id row per batch: null never equi-joins)
    upsert(bad, garbage)
    assert(readTable(dir, "customers").count() == 1)
  }

  test("a guarded merge keeps the columns only the stored table carries") {
    import graft.operators.MergeSink
    val dir = tmpDir("graft_extra_col")
    // a stored table with a column the declared schema lacks (a
    // migration-window column): the merge reads the STORED schema
    TableDefs.customers.projectFrom(
      Seq("""{"id":"cus_x","email":"old@b.c"}""").toDF("payload"), "payload",
      timestamp_seconds(lit(100L)))
      .withColumn("legacy_note", lit("keep me"))
      .write.parquet(s"$dir/customers")
    MergeSink.upsertParquet(TableDefs.customers.projectFrom(
      Seq("""{"id":"cus_x","email":"new@b.c"}""", """{"id":"cus_y","email":"y@b.c"}""")
        .toDF("payload"), "payload", timestamp_seconds(lit(200L))),
      dir, TableDefs.customers)
    val out = readTable(dir, "customers")
    assert(out.columns.contains("legacy_note"))
    val x = out.filter(col("id") === "cus_x").head()
    assert(x.getAs[String]("email") == "new@b.c")
    assert(x.getAs[String]("legacy_note") == "keep me")
    assert(out.filter(col("id") === "cus_y").head().isNullAt(
      out.columns.indexOf("legacy_note")))
  }

  test("rank tie-break in one guarded commit equals serial per-rank merges") {
    import graft.operators.MergeSink
    // (id, ts or null, rank, email): per key, the serial merges keep the
    // greatest timestamp, ties to the earlier rank; a null-timestamp row
    // is replaced by the next applied row, so null ties go to the later
    // rank, and a non-null timestamp beats a null one
    val rows = Seq(
      ("k_tie", Some(100L), 0, "up"), ("k_tie", Some(100L), 1, "del"),
      ("k_later", Some(100L), 0, "up"), ("k_later", Some(101L), 1, "del"),
      ("k_nulls", None, 0, "up"), ("k_nulls", None, 1, "del"),
      ("k_mixed", None, 0, "up"), ("k_mixed", Some(50L), 1, "del"))
    val batch = rows.toDF("id", "ts", MergeSink.RankCol, "email")
      .select(col("id"), col("email"), timestamp_seconds(col("ts")).as("last_synced_at"),
        col(MergeSink.RankCol))
    val dir = tmpDir("graft_rank")
    MergeSink.upsertParquet(batch, dir, TableDefs.customers)
    val out = readTable(dir, "customers")
    assert(!out.columns.contains(MergeSink.RankCol))
    assert(out.select("id", "email").as[(String, String)].collect().toMap == Map(
      "k_tie" -> "up", "k_later" -> "del", "k_nulls" -> "del", "k_mixed" -> "del"))
    // the same rows applied serially, one guarded merge per rank
    val serial = tmpDir("graft_rank_serial")
    Seq(0, 1).foreach { r =>
      MergeSink.upsertParquet(batch.filter(col(MergeSink.RankCol) === r)
        .drop(MergeSink.RankCol), serial, TableDefs.customers)
    }
    assert(readTable(serial, "customers").select("id", "email").as[(String, String)]
      .collect().toMap == out.select("id", "email").as[(String, String)].collect().toMap)
  }

  test("out-of-order protection: older event does not overwrite newer state (webhooks.test.ts:202-284)") {
    val dir = tmpDir("graft_ooo")
    val pipeline = new WebhookPipeline(dir)
    def chargeEvent(ts: Long, paid: Boolean) =
      s"""{"id":"evt_$ts","type":"charge.succeeded","created":$ts,
         |"data":{"object":{"id":"ch_x","object":"charge","paid":$paid,"amount":100,"status":"succeeded"}}}"""
        .stripMargin.replaceAll("\n", "")
    pipeline.processBatch(Seq(chargeEvent(2000, paid = true)).toDF("value"))
    pipeline.processBatch(Seq(chargeEvent(1000, paid = false)).toDF("value"))
    val row = readTable(dir, "charges").filter(col("id") === "ch_x")
      .select("paid", "last_synced_at").head()
    assert(row.getBoolean(0), "older event must not win")
    assert(row.getTimestamp(1).getTime / 1000 == 2000)
  }

  test("same-timestamp replay is a no-op (strict <, postgres.ts:203)") {
    val dir = tmpDir("graft_replay")
    val pipeline = new WebhookPipeline(dir)
    def ev(amount: Long) =
      s"""{"id":"evt_r","type":"charge.succeeded","created":500,
         |"data":{"object":{"id":"ch_r","object":"charge","paid":true,"amount":$amount}}}"""
        .stripMargin.replaceAll("\n", "")
    pipeline.processBatch(Seq(ev(100)).toDF("value"))
    pipeline.processBatch(Seq(ev(999)).toDF("value"))
    assert(readTable(dir, "charges").filter(col("id") === "ch_r")
      .head().getAs[Long]("amount") == 100L)
  }

  test("intra-batch created tie resolves to the lexicographically larger event id (deterministic LWW)") {
    // Two same-key deliveries with EQUAL created in ONE batch: without
    // the EvtSeqCol tie-break the winner is shuffle-order. 'evt_b' >
    // 'evt_a' lexicographically, so amount must read 222 on every run.
    def ev(id: String, amount: Long) =
      s"""{"id":"evt_$id","type":"charge.succeeded","created":700,
         |"data":{"object":{"id":"ch_tie","object":"charge","paid":true,"amount":$amount}}}"""
        .stripMargin.replaceAll("\n", "")
    (1 to 3).foreach { trial =>
      val dir = tmpDir(s"graft_tie$trial")
      new WebhookPipeline(dir)
        .processBatch(Seq(ev("a", 111), ev("b", 222)).toDF("value")
          .repartition(4))
      assert(readTable(dir, "charges").filter(col("id") === "ch_tie")
        .head().getAs[Long]("amount") == 222L,
        s"trial $trial: created tie must resolve to evt_b")
    }
  }

  test("customer.deleted uses the 3-column deleted projection and nulls live columns (P3)") {
    val dir = tmpDir("graft_del")
    val pipeline = new WebhookPipeline(dir)
    val created =
      """{"id":"evt_c1","type":"customer.created","created":100,
        |"data":{"object":{"id":"cus_1","object":"customer","email":"a@b.c","name":"N"}}}"""
        .stripMargin.replaceAll("\n", "")
    val deleted =
      """{"id":"evt_c2","type":"customer.deleted","created":200,
        |"data":{"object":{"id":"cus_1","object":"customer","deleted":true}}}"""
        .stripMargin.replaceAll("\n", "")
    pipeline.processBatch(Seq(created).toDF("value"))
    assert(readTable(dir, "customers").filter(col("id") === "cus_1")
      .head().getAs[String]("email") == "a@b.c")
    pipeline.processBatch(Seq(deleted).toDF("value"))
    val row = readTable(dir, "customers").filter(col("id") === "cus_1").head()
    assert(row.getAs[Boolean]("deleted"))
    // the reference's useNullForMissing overwrites live cols with NULL
    assert(row.getAs[String]("email") == null)
  }

  test("customer.tax_id.deleted hard-deletes the row (S10)") {
    val dir = tmpDir("graft_tax")
    val pipeline = new WebhookPipeline(dir)
    val created =
      """{"id":"evt_t1","type":"customer.tax_id.created","created":100,
        |"data":{"object":{"id":"txi_1","object":"tax_id","value":"DE123"}}}"""
        .stripMargin.replaceAll("\n", "")
    val deleted =
      """{"id":"evt_t2","type":"customer.tax_id.deleted","created":200,
        |"data":{"object":{"id":"txi_1","object":"tax_id"}}}"""
        .stripMargin.replaceAll("\n", "")
    pipeline.processBatch(Seq(created).toDF("value"))
    assert(readTable(dir, "tax_ids").count() == 1)
    pipeline.processBatch(Seq(deleted).toDF("value"))
    assert(readTable(dir, "tax_ids").count() == 0)
  }

  test("subscription items normalize + vanished items marked deleted (A5+J3)") {
    val dir = tmpDir("graft_subs")
    val pipeline = new WebhookPipeline(dir)
    def subEvent(ts: Long, items: String) =
      s"""{"id":"evt_s$ts","type":"customer.subscription.updated","created":$ts,
         |"data":{"object":{"id":"sub_1","object":"subscription","status":"active",
         |"items":{"object":"list","data":[$items]}}}}"""
        .stripMargin.replaceAll("\n", "")
    val itemA = """{"id":"si_a","object":"subscription_item","quantity":1,"price":{"id":"price_1"},"subscription":"sub_1"}"""
    val itemB = """{"id":"si_b","object":"subscription_item","quantity":2,"price":{"id":"price_2"},"subscription":"sub_1"}"""
    pipeline.processBatch(Seq(subEvent(100, s"$itemA,$itemB")).toDF("value"))
    val items0 = readTable(dir, "subscription_items")
    assert(items0.count() == 2)
    // price object flattened to its id (stripeSync.ts:1490)
    assert(items0.filter(col("id") === "si_a").head().getAs[String]("price") == "price_1")
    // second event drops item B → B must be flagged deleted (J3)
    pipeline.processBatch(Seq(subEvent(200, itemA)).toDF("value"))
    val items1 = readTable(dir, "subscription_items")
    assert(!items1.filter(col("id") === "si_a").head().getAs[Boolean]("deleted"))
    assert(items1.filter(col("id") === "si_b").head().getAs[Boolean]("deleted"))
  }

  test("A5+J3 flags vanished items under a file:-URI tables dir") {
    // the vanished-item set must see the stored items table through
    // Hadoop, not java.nio: with a `file:` URI the old existence test
    // read "absent" and silently skipped the J3 flagging
    val dir = "file:" + tmpDir("graft_subs_uri")
    val pipeline = new WebhookPipeline(dir)
    def subEvent(ts: Long, items: String) =
      s"""{"id":"evt_u$ts","type":"customer.subscription.updated","created":$ts,
         |"data":{"object":{"id":"sub_u","object":"subscription","status":"active",
         |"items":{"object":"list","data":[$items]}}}}"""
        .stripMargin.replaceAll("\n", "")
    val itemA = """{"id":"si_ua","object":"subscription_item","quantity":1,"price":{"id":"price_1"},"subscription":"sub_u"}"""
    val itemB = """{"id":"si_ub","object":"subscription_item","quantity":2,"price":{"id":"price_2"},"subscription":"sub_u"}"""
    pipeline.processBatch(Seq(subEvent(100, s"$itemA,$itemB")).toDF("value"))
    pipeline.processBatch(Seq(subEvent(200, itemA)).toDF("value"))
    val items = spark.read.parquet(s"$dir/subscription_items")
    assert(!items.filter(col("id") === "si_ua").head().getAs[Boolean]("deleted"))
    assert(items.filter(col("id") === "si_ub").head().getAs[Boolean]("deleted"),
      "vanished item must be flagged deleted under a file: URI")
  }

  test("subscriptions without an items list leave the items store absent") {
    val dir = tmpDir("graft_subs_noitems")
    val ev =
      """{"id":"evt_ni","type":"customer.subscription.created","created":100,
        |"data":{"object":{"id":"sub_ni","object":"subscription","status":"active"}}}"""
        .stripMargin.replaceAll("\n", "")
    new WebhookPipeline(dir).processBatch(Seq(ev).toDF("value"))
    assert(readTable(dir, "subscriptions").count() == 1)
    assert(!Files.exists(Paths.get(s"$dir/subscription_items")))
  }

  // Same-batch ordering: every action on a table lands in ONE guarded
  // commit, which must give the state of applying upsert, then
  // deleted-upsert, then hard delete one after another.
  private def custEv(evtId: String, tpe: String, ts: Long, body: String) =
    s"""{"id":"$evtId","type":"$tpe","created":$ts,
       |"data":{"object":{"id":"cus_o","object":"customer"$body}}}"""
      .stripMargin.replaceAll("\n", "")

  test("same batch: customer.created + customer.deleted at equal created keeps the live row") {
    val dir = tmpDir("graft_ord_tie")
    new WebhookPipeline(dir).processBatch(Seq(
      custEv("evt_o1", "customer.created", 500, ""","email":"a@b.c""""),
      custEv("evt_o2", "customer.deleted", 500, ""","deleted":true""")
    ).toDF("value").repartition(4))
    val rows = readTable(dir, "customers").filter(col("id") === "cus_o").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("email") == "a@b.c",
      "an equal-time deleted projection must not replace the live row")
    assert(!rows.head.getAs[Boolean]("deleted") || rows.head.isNullAt(
      rows.head.fieldIndex("deleted")))
  }

  test("same batch: customer.deleted 1 s after customer.created wins with live columns null") {
    val dir = tmpDir("graft_ord_later")
    new WebhookPipeline(dir).processBatch(Seq(
      custEv("evt_o1", "customer.created", 500, ""","email":"a@b.c""""),
      custEv("evt_o2", "customer.deleted", 501, ""","deleted":true""")
    ).toDF("value").repartition(4))
    val rows = readTable(dir, "customers").filter(col("id") === "cus_o").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Boolean]("deleted"))
    assert(rows.head.getAs[String]("email") == null)
    assert(rows.head.getAs[java.sql.Timestamp]("last_synced_at").getTime / 1000 == 501L)
  }

  test("same batch: product.created + product.deleted leaves no row") {
    val dir = tmpDir("graft_ord_hard")
    def prodEv(evtId: String, tpe: String, ts: Long) =
      s"""{"id":"$evtId","type":"$tpe","created":$ts,
         |"data":{"object":{"id":"prod_o","object":"product","name":"P"}}}"""
        .stripMargin.replaceAll("\n", "")
    val keep =
      """{"id":"evt_pk","type":"product.created","created":400,
        |"data":{"object":{"id":"prod_keep","object":"product","name":"K"}}}"""
        .stripMargin.replaceAll("\n", "")
    // the delete is OLDER than the create: a hard delete removes its
    // key whatever the timestamps
    new WebhookPipeline(dir).processBatch(Seq(
      prodEv("evt_p1", "product.created", 600), prodEv("evt_p2", "product.deleted", 300),
      keep).toDF("value"))
    assert(readTable(dir, "products").select("id").as[String].collect().toSeq ==
      Seq("prod_keep"))
  }

  test("processing the same mixed batch twice leaves identical tables") {
    val dir = tmpDir("graft_ord_twice")
    val sub =
      """{"id":"evt_t3","type":"customer.subscription.updated","created":700,
        |"data":{"object":{"id":"sub_t","object":"subscription","status":"active",
        |"items":{"object":"list","data":[{"id":"si_t","object":"subscription_item",
        |"quantity":1,"price":{"id":"price_t"},"subscription":"sub_t"}]}}}}"""
        .stripMargin.replaceAll("\n", "")
    val batch = Seq(
      custEv("evt_t1", "customer.created", 500, ""","email":"a@b.c""""),
      custEv("evt_t2", "customer.deleted", 501, ""","deleted":true"""),
      """{"id":"evt_t4","type":"product.created","created":500,"data":{"object":{"id":"prod_t","name":"P"}}}""",
      """{"id":"evt_t5","type":"product.deleted","created":500,"data":{"object":{"id":"prod_t"}}}""",
      """{"id":"evt_t6","type":"price.created","created":500,"data":{"object":{"id":"price_t","unit_amount":5}}}""",
      sub)
    val tables = Seq("customers", "products", "prices", "subscriptions", "subscription_items")
    val pipeline = new WebhookPipeline(dir)
    pipeline.processBatch(batch.toDF("value"), 0L)
    val first = tables.map(t => t -> readTable(dir, t).collect().map(_.toString).sorted.toSeq).toMap
    pipeline.processBatch(batch.toDF("value"), 1L)
    tables.foreach { t =>
      assert(readTable(dir, t).collect().map(_.toString).sorted.toSeq == first(t),
        s"$t changed on reprocessing the same batch")
    }
    assert(first("customers").size == 1 && first("products").isEmpty &&
      first("prices").size == 1 && first("subscription_items").size == 1)
  }

  test("structured streaming driver: file-drop events flow through foreachBatch to the tables (S1/§2.6)") {
    val dir = tmpDir("graft_stream")
    val in = tmpDir("graft_stream_in")
    val ev =
      """{"id":"evt_st1","type":"product.created","created":111,
        |"data":{"object":{"id":"prod_st","object":"product","name":"P","active":true}}}"""
        .stripMargin.replaceAll("\n", "")
    Files.write(Paths.get(s"$in/batch1.json"), ev.getBytes)
    val pipeline = new WebhookPipeline(dir)
    val q = pipeline.start(spark, in, tmpDir("graft_stream_ckpt"))
    try q.processAllAvailable() finally q.stop()
    val row = readTable(dir, "products").filter(col("id") === "prod_st").head()
    assert(row.getAs[String]("name") == "P")
    assert(row.getAs[java.sql.Timestamp]("last_synced_at").getTime / 1000 == 111L)
  }

  test("streaming restart from checkpoint: duplicate delivery + out-of-order replay stay idempotent") {
    val dir = tmpDir("graft_restart")
    val in = tmpDir("graft_restart_in")
    val ckpt = tmpDir("graft_restart_ckpt")
    def custEvent(evtId: String, ts: Long, email: String) =
      s"""{"id":"$evtId","type":"customer.updated","created":$ts,
         |"data":{"object":{"id":"cus_ck","object":"customer","email":"$email"}}}"""
        .stripMargin.replaceAll("\n", "")
    // Run 1: one event at ts=200.
    Files.write(Paths.get(s"$in/b1.json"), custEvent("evt_a", 200, "new@x.com").getBytes)
    val pipeline = new WebhookPipeline(dir)
    val q1 = pipeline.start(spark, in, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    // Run 2 (RESTART, same checkpoint): Stripe redelivers evt_a
    // (at-least-once) and an OLDER event arrives late — both must no-op
    // against the ts=200 state; a genuinely newer event must win.
    Files.write(Paths.get(s"$in/b2.json"),
      (custEvent("evt_a", 200, "new@x.com") + "\n" +
        custEvent("evt_old", 100, "stale@x.com")).getBytes)
    Files.write(Paths.get(s"$in/b3.json"), custEvent("evt_b", 300, "final@x.com").getBytes)
    val q2 = pipeline.start(spark, in, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val rows = readTable(dir, "customers").filter(col("id") === "cus_ck")
      .select("email", "last_synced_at").collect()
    assert(rows.length == 1, s"expected exactly one row, got ${rows.length}")
    assert(rows.head.getAs[String]("email") == "final@x.com")
    assert(rows.head.getAs[java.sql.Timestamp]("last_synced_at").getTime / 1000 == 300L)
  }

  test("history sink mode: SCD2 dimension history is batch-invariant, tiles, and ignores redelivery") {
    import graft.streaming.SyncConfig
    val fx = fixtures()
    assume(fx.nonEmpty, "reference fixture corpus not present")
    val histTables = Set("customers", "products")
    def build(dir: String, batches: Seq[Seq[String]]): Unit = {
      val p = new WebhookPipeline(dir, config = SyncConfig(historyTables = histTables))
      batches.foreach(b => if (b.nonEmpty) p.processBatch(b.toDF("value")))
    }
    val twoDir = tmpDir("graft_hist2")
    val oneDir = tmpDir("graft_hist1")
    val (b1, b2) = fx.splitAt(fx.size / 2)
    build(twoDir, Seq(b1, b2))
    build(oneDir, Seq(fx))
    for (t <- histTables) {
      // the SCD2 invariants hold on the SERVED form (is_change rows);
      // flagged no-change rows are store bookkeeping for late re-tiling
      val two = readTable(twoDir, s"${t}__history").filter(col("is_change"))
      val one = readTable(oneDir, s"${t}__history").filter(col("is_change"))
      // incremental fold across two batches == one-shot history: the
      // stored content is independent of batch boundaries
      assert(two.except(one).isEmpty && one.except(two).isEmpty,
        s"$t history diverges between one-shot and incremental builds")
      // exactly one current version per key; versions dense 1..n;
      // intervals tile (valid_to of v == valid_from of v+1)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy("version")
      val audit = two
        .withColumn("nxt", lead("valid_from", 1).over(w))
        .groupBy("id").agg(
          sum(when(col("is_current"), 1L).otherwise(0L)).as("cur"),
          count(lit(1)).as("n"), max("version").as("maxv"),
          sum(when(col("nxt").isNotNull && col("valid_to") =!= col("nxt"), 1L)
            .otherwise(0L)).as("gaps"))
      assert(audit.filter(col("cur") =!= 1L || col("maxv") =!= col("n") ||
        col("gaps") =!= 0L).isEmpty, s"$t history violates SCD2 invariants")
    }
    // the corpus reuses entity ids across created/updated/deleted
    // variants, so real multi-version history must exist
    assert(readTable(twoDir, "customers__history")
      .filter(col("is_change") && col("version") >= 2L).count() > 0,
      "no multi-version key")
    // at-least-once delivery: replaying the whole second batch is a no-op
    val before = readTable(twoDir, "customers__history").count()
    new WebhookPipeline(twoDir, config = SyncConfig(historyTables = histTables))
      .processBatch(b2.toDF("value"))
    assert(readTable(twoDir, "customers__history").count() == before)
  }

  test("child-table history: subscription_items SCD2 versions + J3 tombstones tile") {
    import graft.streaming.SyncConfig
    val dir = tmpDir("graft_childhist")
    val pipeline = new WebhookPipeline(dir,
      config = SyncConfig(historyTables = Set("subscription_items")))
    def subEvent(ts: Long, items: String) =
      s"""{"id":"evt_ch$ts","type":"customer.subscription.updated","created":$ts,
         |"data":{"object":{"id":"sub_h","object":"subscription","status":"active",
         |"items":{"object":"list","data":[$items]}}}}"""
        .stripMargin.replaceAll("\n", "")
    val itemA = """{"id":"si_ha","object":"subscription_item","quantity":1,"price":{"id":"price_1"},"subscription":"sub_h"}"""
    val itemA2 = """{"id":"si_ha","object":"subscription_item","quantity":5,"price":{"id":"price_1"},"subscription":"sub_h"}"""
    val itemB = """{"id":"si_hb","object":"subscription_item","quantity":2,"price":{"id":"price_2"},"subscription":"sub_h"}"""
    pipeline.processBatch(Seq(subEvent(100, s"$itemA,$itemB")).toDF("value"))
    // quantity change on A + B vanishes (J3): both must version in history
    pipeline.processBatch(Seq(subEvent(200, itemA2)).toDF("value"))
    val hist = readTable(dir, "subscription_items__history")
      .filter(col("is_change"))
    // A: v1 qty=1, v2 qty=5 (current); B: v1 live, v2 tombstone deleted=true
    val a = hist.filter(col("id") === "si_ha").orderBy("version").collect()
    assert(a.map(_.getAs[Long]("quantity")).toSeq == Seq(1L, 5L))
    assert(a.last.getAs[Boolean]("is_current"))
    val b = hist.filter(col("id") === "si_hb").orderBy("version").collect()
    assert(b.map(_.getAs[Boolean]("deleted")).toSeq == Seq(false, true),
      "vanished item must version as a deleted=true tombstone")
    assert(b.last.getAs[Boolean]("is_current"))
    // SCD2 invariants: one current per key, dense versions, tiled intervals
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy("version")
    val audit = hist.withColumn("nxt", lead("valid_from", 1).over(w))
      .groupBy("id").agg(
        sum(when(col("is_current"), 1L).otherwise(0L)).as("cur"),
        count(lit(1)).as("n"), max("version").as("maxv"),
        sum(when(col("nxt").isNotNull && col("valid_to") =!= col("nxt"), 1L)
          .otherwise(0L)).as("gaps"))
    assert(audit.filter(col("cur") =!= 1L || col("maxv") =!= col("n") ||
      col("gaps") =!= 0L).isEmpty, "child history violates SCD2 invariants")
    // at-least-once: redelivering the second event adds no versions
    val before = hist.count()
    pipeline.processBatch(Seq(subEvent(200, itemA2)).toDF("value"))
    assert(readTable(dir, "subscription_items__history").count() == before)
  }

  test("events ledger + event-id dedup: redelivery drops pre-route, ledger row intact") {
    import graft.streaming.SyncConfig
    val dir = tmpDir("graft_evledger")
    val pipeline = new WebhookPipeline(dir,
      config = SyncConfig(eventsLedger = true, dedupEventIds = true))
    def custEvent(evtId: String, ts: Long, email: String) =
      s"""{"id":"$evtId","type":"customer.updated","created":$ts,
         |"data":{"object":{"id":"cus_ev","object":"customer","email":"$email"}}}"""
        .stripMargin.replaceAll("\n", "")
    pipeline.processBatch(Seq(custEvent("evt_led1", 100, "v1@x.com")).toDF("value"))
    assert(readTable(dir, "customers").head().getAs[String]("email") == "v1@x.com")
    val ledger0 = readTable(dir, "events")
    assert(ledger0.count() == 1)
    assert(ledger0.head().getAs[String]("id") == "evt_led1")
    assert(ledger0.head().getAs[String]("type") == "customer.updated")
    // REDELIVERY with the same event id but mutated body + newer created:
    // without pre-route dedup the LWW merge would apply it (ts 300 > 100);
    // the guard must drop it before the router ever sees it
    pipeline.processBatch(Seq(custEvent("evt_led1", 300, "attacker@x.com")).toDF("value"))
    assert(readTable(dir, "customers").head().getAs[String]("email") == "v1@x.com",
      "redelivered event id must be dropped pre-route")
    assert(readTable(dir, "events").count() == 1, "ledger row must stay intact")
    // a genuinely new event id still flows
    pipeline.processBatch(Seq(custEvent("evt_led2", 400, "v2@x.com")).toDF("value"))
    assert(readTable(dir, "customers").head().getAs[String]("email") == "v2@x.com")
    assert(readTable(dir, "events").count() == 2)
  }

  test("entitlement summary delta: table converges to the current set (J4, entitlements.test.ts)") {
    val dir = tmpDir("graft_ent")
    val pipeline = new WebhookPipeline(dir)
    def summary(ts: Long, ents: String) =
      s"""{"id":"evt_e$ts","type":"entitlements.active_entitlement_summary.updated","created":$ts,
         |"data":{"object":{"object":"entitlements.active_entitlement_summary","customer":"cus_9",
         |"entitlements":{"object":"list","data":[$ents]}}}}"""
        .stripMargin.replaceAll("\n", "")
    def ent(id: String) =
      s"""{"id":"$id","object":"entitlements.active_entitlement","feature":{"id":"feat_$id"},"lookup_key":"k_$id","livemode":false}"""
    pipeline.processBatch(Seq(summary(100, s"${ent("ent_1")},${ent("ent_2")}")).toDF("value"))
    assert(readTable(dir, "active_entitlements").select("id").as[String]
      .collect().sorted.toSeq == Seq("ent_1", "ent_2"))
    pipeline.processBatch(Seq(summary(200, s"${ent("ent_2")},${ent("ent_3")}")).toDF("value"))
    assert(readTable(dir, "active_entitlements").select("id").as[String]
      .collect().sorted.toSeq == Seq("ent_2", "ent_3"))
  }

  test("unroutable events land in the quarantine audit sink; clean batches skip it") {
    val dir = tmpDir("graft_wh_q")
    val pipeline = new WebhookPipeline(dir)
    val good =
      """{"id":"evt_ok","type":"product.created","created":100,
        |"data":{"object":{"id":"prod_q1","name":"n","updated":1}}}""".stripMargin
        .replaceAll("\n", " ")
    // a clean batch must not create the quarantine dir (zero extra jobs)
    pipeline.processBatch(Seq(good).toDF("value"), 0L)
    assert(!Files.exists(Paths.get(s"$dir/_quarantine")))
    // unknown type, typeless garbage, and a ROUTED type with no payload
    // (whose all-null projection the sink would drop silently):
    // processed tables stay correct, drops become auditable rows with
    // the right reasons and the ORIGINAL raw delivery text
    val unknown =
      """{"id":"evt_u","type":"price.migrated","created":101,
        |"data":{"object":{"id":"price_x"}}}""".stripMargin.replaceAll("\n", " ")
    val garbage = """{"hello":"world"}"""
    val noPayload = """{"id":"evt_np","type":"product.created","created":102}"""
    pipeline.processBatch(Seq(good, unknown, garbage, noPayload).toDF("value"), 1L)
    assert(readTable(dir, "products").select("id").as[String].collect()
      .toSeq == Seq("prod_q1"))
    def quarantineRows() = readTable(dir, "_quarantine")
      .select("event_id", "event_type", "reason", "raw_value", "batch_id")
      .as[(String, String, String, String, Long)].collect()
    val q = quarantineRows()
    assert(q.length == 3)
    assert(q.exists(r => r._2 == "price.migrated" && r._3 == "unrouted_type"
      && r._5 == 1L))
    // the husk is still identifiable: its raw text rides along
    assert(q.exists(r => r._2 == null && r._3 == "malformed_envelope"
      && r._4 == garbage))
    assert(q.exists(r => r._1 == "evt_np" && r._3 == "malformed_envelope"))
    // at-least-once re-run of the same batch id: idempotent, no
    // duplicate audit rows (the write overwrites its batch_id subdir)
    pipeline.processBatch(Seq(good, unknown, garbage, noPayload).toDF("value"), 1L)
    assert(quarantineRows().length == 3)
  }

  test("point-in-time rebuild from the events ledger equals asOfState of the history") {
    import graft.streaming.SyncConfig
    val fx = fixtures()
    assume(fx.nonEmpty, "reference fixture corpus not present")
    val dir = tmpDir("graft_pit")
    val tables = Seq("customers", "subscription_items")
    val pipeline = new WebhookPipeline(dir, config = SyncConfig(
      eventsLedger = true, dedupEventIds = true, historyTables = tables.toSet))
    val df = fx.toDF("value")
    pipeline.processBatch(df, 0L)
    pipeline.processBatch(df, 1L) // full redelivery: exactly-once via the guard
    // sample several instants across the ledger's event-time range
    val created = readTable(dir, "events").select("created")
      .as[Long].collect().distinct.sorted
    assert(created.length >= 3, "corpus must span multiple created instants")
    val samples = Seq(created.head, created(created.length / 2), created.last)
    for (t <- samples.distinct) {
      val out = tmpDir(s"graft_pit_out_$t")
      WebhookPipeline.rebuildAsOf(spark, dir, out, t)
      for (table <- tables) {
        // the rebuilt LATEST-STATE table vs the original store's SCD2
        // point-in-time view — asOfState reads the flagged store
        // unfiltered (no-change rows carry empty intervals)
        val asOf = graft.operators.MergeOps.asOfState(
          readTable(dir, s"${table}__history"), timestamp_seconds(lit(t)))
        val exists = new java.io.File(s"$out/$table").exists
        if (!exists)
          assert(asOf.count() == 0L,
            s"$table@t=$t: history serves rows but the rebuild wrote none")
        else {
          val rebuilt = readTable(out, table)
          // updated_at is wall-clock bookkeeping; everything else must match
          val cols = rebuilt.columns.filterNot(_ == "updated_at").toSeq
          val a = rebuilt.select(cols.map(col): _*)
          val b = asOf.select(cols.map(col): _*)
          assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
            s"$table@t=$t: ledger replay != asOfState " +
              s"(only_rebuilt=${a.exceptAll(b).count()}, only_hist=${b.exceptAll(a).count()})")
        }
      }
    }
  }
}
