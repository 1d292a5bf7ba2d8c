package graft

import java.time.Instant

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, WallClock}
import graft.model.TableDefs
import graft.operators.Backfill
import graft.streaming.{SyncConfig, WebhookPipeline}

/** The sync path's wall clock ([[WallClock]]): its generated code is the
  * same for every clock value, so a warm batch compiles no classes, and
  * every stamp it writes falls inside the wall-clock window of the call
  * that wrote it. */
class WallClockSpec extends SparkSpec {
  import spark.implicits._

  private def nowMicros(): Long = DateTimeUtils.instantToMicros(Instant.now())

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** (id, last_synced_at µs, updated_at µs) of every row of `table`. */
  private def stamps(dir: String, table: String): Map[String, (Long, Long)] =
    spark.read.parquet(s"$dir/$table")
      .select(col("id"), unix_micros(col("last_synced_at")), unix_micros(col("updated_at")))
      .as[(String, Long, Long)].collect()
      .map { case (id, synced, updated) => id -> (synced, updated) }.toMap

  private def window[T](body: => T): (T, Long, Long) = {
    val t0 = nowMicros()
    val out = body
    (out, t0, nowMicros())
  }

  test("two clock values generate identical source, and eval equals the generated value") {
    def clockFrame(micros: Long): DataFrame =
      spark.range(1).select(GraftFunctions.toColumn(WallClock(micros)).as("t"))
    val (a, b) = (1700000000123456L, 1800000000654321L)
    def code(df: DataFrame) = codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
    assert(code(clockFrame(a)).nonEmpty, "the clock must be whole-stage generated")
    assert(code(clockFrame(a)) == code(clockFrame(b)))
    // the literal the clock replaces puts its value into the source
    def literalFrame(micros: Long): DataFrame =
      spark.range(1).select(timestamp_micros(lit(micros)).as("t"))
    assert(code(literalFrame(a)) != code(literalFrame(b)))
    val generated = clockFrame(a).select(unix_micros(col("t"))).as[Long].head()
    assert(generated == a)
    assert(WallClock(a).eval(null) == a)
    // a projection over a local relation is evaluated, not generated
    val interpreted = Seq(1).toDF("x")
      .select(unix_micros(GraftFunctions.toColumn(WallClock(a)))).as[Long].head()
    assert(interpreted == a)
  }

  test("a warm webhook batch compiles no generated classes") {
    val dir = tmpDir("graft_clock_warm")
    val pipeline = new WebhookPipeline(dir)
    // two tables, so the batch's classes fit the session's default
    // 100-entry codegen cache with room to spare
    def batch(n: Int): DataFrame = Seq(
      s"""{"id":"evt_c$n","type":"customer.updated","created":${100 + n},
         |"data":{"object":{"id":"cus_$n","object":"customer","email":"c$n@x.y"}}}""",
      s"""{"id":"evt_p$n","type":"product.updated","created":${100 + n},
         |"data":{"object":{"id":"prod_$n","object":"product","name":"p$n"}}}""")
      .map(_.stripMargin.replaceAll("\n", "")).toDF("value")
    // the first batch creates the tables, the second merges into them
    // for the first time: both compile; the third has the second's shape
    pipeline.processBatch(batch(0))
    val c1 = compiles()
    pipeline.processBatch(batch(1))
    val c2 = compiles()
    pipeline.processBatch(batch(2))
    val c3 = compiles()
    assert(c2 - c1 < 60, s"a two-table batch compiled ${c2 - c1} classes")
    assert(c3 == c2, s"a warm batch compiled ${c3 - c2} classes")
    assert(stamps(dir, "customers").size == 3 && stamps(dir, "products").size == 3)
  }

  test("J3 tombstones are stamped inside their batch's window, mirror and history alike") {
    val dir = tmpDir("graft_clock_j3")
    val pipeline = new WebhookPipeline(dir,
      config = SyncConfig(historyTables = Set("subscription_items")))
    def subEvent(ts: Long, items: String) =
      s"""{"id":"evt_j$ts","type":"customer.subscription.updated","created":$ts,
         |"data":{"object":{"id":"sub_j","object":"subscription","status":"active",
         |"items":{"object":"list","data":[$items]}}}}"""
        .stripMargin.replaceAll("\n", "")
    val itemA = """{"id":"si_ja","object":"subscription_item","quantity":1,"subscription":"sub_j"}"""
    val itemB = """{"id":"si_jb","object":"subscription_item","quantity":2,"subscription":"sub_j"}"""
    pipeline.processBatch(Seq(subEvent(100, s"$itemA,$itemB")).toDF("value"))
    val (_, t0, t1) = window(pipeline.processBatch(Seq(subEvent(200, itemA)).toDF("value")))
    val items = stamps(dir, "subscription_items")
    val synced = items("si_jb")._1
    assert(synced >= t0 && synced <= t1, s"tombstone stamp $synced outside [$t0, $t1]")
    // one clock per batch: the tombstone's stamp is the live item's
    // updated_at; the live item's sync stamp is event.created
    assert(items("si_ja") == (200L * 1000000L, synced))
    val tomb = spark.read.parquet(s"$dir/subscription_items__history")
      .filter(col("id") === "si_jb" && col("deleted"))
      .select(unix_micros(col("last_synced_at"))).as[Long].collect()
    assert(tomb.toSeq == Seq(synced), "history's tombstone must carry the mirror's stamp")
  }

  test("refetched rows are stamped inside their batch's window") {
    val dir = tmpDir("graft_clock_refetch")
    val api = new BackfillSpec.MapFetcher(Map(
      "in_open" -> """{"id":"in_open","object":"invoice","status":"open","customer":"cus_api"}"""))
    val pipeline = new WebhookPipeline(dir, Some(api),
      SyncConfig(revalidateTables = Set("invoices")))
    def ev(id: String, status: String) =
      s"""{"id":"evt_$id","type":"invoice.updated","created":100,
         |"data":{"object":{"id":"$id","object":"invoice","status":"$status"}}}"""
        .stripMargin.replaceAll("\n", "")
    val (_, t0, t1) = window(pipeline.processBatch(
      Seq(ev("in_open", "open"), ev("in_void", "void")).toDF("value")))
    val rows = stamps(dir, "invoices")
    val (synced, updated) = rows("in_open")
    assert(synced >= t0 && synced <= t1, s"refetch stamp $synced outside [$t0, $t1]")
    assert(updated == synced && rows("in_void")._2 == synced)
    assert(rows("in_void")._1 == 100L * 1000000L, "a trusted body keeps event.created")
  }

  test("backfilled rows are stamped inside the scan's window") {
    val charges = (1 to 5).map(i =>
      s"ch_$i" -> s"""{"id":"ch_$i","object":"charge","amount":$i,"created":$i}""").toMap
    val dir = tmpDir("graft_clock_backfill")
    val (n, t0, t1) = window(Backfill.syncEntity(spark, dir, TableDefs.charges,
      new BackfillSpec.MapFetcher(charges), chunkSize = 2))
    assert(n == 5L)
    val rows = stamps(dir, "charges")
    assert(rows.size == 5)
    rows.foreach { case (id, (synced, updated)) =>
      assert(synced >= t0 && synced <= t1, s"$id stamp $synced outside [$t0, $t1]")
      assert(updated == synced, s"$id: one clock per chunk")
    }
  }
}
