package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{AsOfJoin, MergeOps}

/** The reference's sync dataflow operators (SURVEY §2.1-2.7), exercised
  * over the `events` change-stream table. Each query drives the actual
  * operator implementation in [[graft.operators]] — the same code the
  * streaming pipeline uses — not an inline reimplementation.
  *
  * `ts_ns` (exact epoch nanos, = DuckDB `epoch_ns(ts)`) is the ordering
  * key everywhere, with `event_id` as the unique tiebreaker.
  */
object SyncQueries {

  private val DAY_NS = 86400000000000L

  val all: Seq[Q] = Seq(

    // A2/S9: last-writer-wins — reference guard postgres.ts:196-203.
    Q("q13_lww_state",
      """SELECT user_id, event_id, event_type, value FROM (
        | SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
        | FROM events) t WHERE rn = 1 ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      MergeOps.lwwLatest(Tables.events(s, dir), Seq("user_id"), Seq("ts_ns", "event_id"))
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    },

    // S9: guarded merge of an "update batch" over a "target snapshot",
    // strict > guard (stale rows no-op) — postgres.ts:64-104,203.
    Q("q14_merge_guarded",
      """WITH tt AS (SELECT user_id, event_id, value, epoch_ns(ts) AS ts_ns,
        |   row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
        |  FROM events WHERE event_id % 2 = 0),
        | ss AS (SELECT user_id, event_id, value, epoch_ns(ts) AS ts_ns,
        |   row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
        |  FROM events WHERE event_id % 2 = 1),
        | t AS (SELECT * FROM tt WHERE rn = 1), s AS (SELECT * FROM ss WHERE rn = 1)
        |SELECT coalesce(t.user_id, s.user_id) AS user_id,
        | CASE WHEN t.user_id IS NULL OR (s.user_id IS NOT NULL AND s.ts_ns > t.ts_ns)
        |      THEN s.event_id ELSE t.event_id END AS event_id,
        | CASE WHEN t.user_id IS NULL OR (s.user_id IS NOT NULL AND s.ts_ns > t.ts_ns)
        |      THEN s.value ELSE t.value END AS value
        |FROM t FULL OUTER JOIN s ON t.user_id = s.user_id ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      val ev = Tables.events(s, dir).select("user_id", "event_id", "value", "ts_ns")
      val target = MergeOps.lwwLatest(ev.filter(col("event_id") % 2 === 0),
        Seq("user_id"), Seq("ts_ns", "event_id"))
      val source = MergeOps.lwwLatest(ev.filter(col("event_id") % 2 === 1),
        Seq("user_id"), Seq("ts_ns", "event_id"))
      MergeOps.mergeGuarded(target, source, "user_id", "ts_ns")
        .select("user_id", "event_id", "value")
        .orderBy("user_id")
    },

    // J1/J2: missing-FK anti-join (findMissingEntries, postgres.ts:106-120)
    // against a deliberately partial mirror (c_custkey % 3 != 0).
    Q("q15_missing_fk",
      """SELECT DISTINCT o_custkey AS c_custkey FROM orders
        |WHERE o_totalprice > 200000.0
        |  AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 3 != 0)
        |ORDER BY c_custkey""".stripMargin
    ) { (s, dir) =>
      MergeOps.missingKeys(
        Tables(s, dir, "orders").filter(col("o_totalprice") > 200000.0),
        "o_custkey",
        Tables(s, dir, "customer").filter(col("c_custkey") % 3 =!= 0),
        "c_custkey")
        .orderBy("c_custkey")
    },

    // J3/J4: set-difference delete (markDeletedSubscriptionItems,
    // stripeSync.ts:1559-1583): per user, click rows NOT in the latest
    // active day's set are the "vanished" rows to mark deleted.
    Q("q16_setdiff_delete",
      """WITH clicks AS (SELECT user_id, event_id, epoch_ns(ts) // 86400000000000 AS day
        |  FROM events WHERE event_type = 'click'),
        | mx AS (SELECT user_id, max(day) AS maxday FROM clicks GROUP BY user_id)
        |SELECT c.user_id, c.event_id FROM clicks c JOIN mx USING (user_id)
        |WHERE c.day < mx.maxday ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      val clicks = Tables.events(s, dir).filter(col("event_type") === "click")
        .withColumn("day", expr(s"ts_ns DIV $DAY_NS"))
      val maxd = clicks.groupBy("user_id").agg(max("day").as("maxday"))
      val current = clicks.join(maxd, "user_id").filter(col("day") === col("maxday"))
      MergeOps.setDiffDelete(
        clicks.select("user_id", "event_id"),
        current.select("event_id"), "event_id")
        .select("user_id", "event_id")
        .orderBy("event_id")
    },

    // A4/A5: explode/normalize nested collections (0014 migration,
    // stripeSync.ts:1484-1557) — word frequency over exploded tokens.
    Q("q17_explode_words",
      """SELECT word, count(*) AS cnt FROM (
        | SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |GROUP BY word HAVING count(*) >= 10 ORDER BY cnt DESC, word""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 10)
        .orderBy(col("cnt").desc, col("word"))
    },

    // §2.7: JSON extraction + cast (obj->>'field' semantics).
    Q("q18_json_extract",
      """SELECT event_type,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(col("k")).as("n_k"))
        .orderBy("event_type")
    },

    // P7: prefix dispatch (syncSingleEntity, stripeSync.ts:606-662).
    Q("q19_route_prefix",
      """SELECT CASE WHEN event_type LIKE 's%' THEN 'signup_like'
        |            WHEN event_type LIKE 'c%' THEN 'click_like'
        |            WHEN event_type LIKE 'p%' THEN 'purchase_like'
        |            ELSE 'other' END AS route, count(*) AS n
        |FROM events GROUP BY route ORDER BY route""".stripMargin
    ) { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("route",
          when(col("event_type").startsWith("s"), "signup_like")
            .when(col("event_type").startsWith("c"), "click_like")
            .when(col("event_type").startsWith("p"), "purchase_like")
            .otherwise("other"))
        .groupBy("route").agg(count(lit(1)).as("n"))
        .orderBy("route")
    },

    // Custom operator: as-of join (most recent prior click per purchase).
    // Oracle uses max() over the prior-rows frame, which equals
    // last-non-null because event ids are ts-monotonic in this corpus.
    Q("q20_asof_join",
      """SELECT event_id, user_id, last_click_id FROM (
        | SELECT event_id, user_id, event_type,
        |  max(CASE WHEN event_type = 'click' THEN event_id END)
        |   OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_id
        | FROM events WHERE event_type IN ('click', 'purchase')) t
        |WHERE event_type = 'purchase' AND last_click_id IS NOT NULL
        |ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      AsOfJoin.priorMatch(
        Tables.events(s, dir).filter(col("event_type").isin("click", "purchase")),
        Seq("user_id"), Seq("ts_ns", "event_id"),
        isLeft = col("event_type") === "purchase",
        isRight = col("event_type") === "click",
        valueCol = "event_id", asCol = "last_click_id")
        .filter(col("last_click_id").isNotNull)
        .select("event_id", "user_id", "last_click_id")
        .orderBy("event_id")
    },

    // §2.9 windows: lag delta per user (identical IEEE subtraction).
    Q("q21_lag_delta",
      """SELECT event_id, value - prev AS delta FROM (
        | SELECT event_id, value,
        |  lag(value) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev
        | FROM events) t WHERE prev IS NOT NULL ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      Tables.events(s, dir)
        .withColumn("prev", lag("value", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("event_id"), (col("value") - col("prev")).as("delta"))
        .orderBy("event_id")
    },

    // §2.9 windows: running total (exact cents).
    Q("q22_running_total",
      """SELECT event_id,
        | CAST(sum(CAST(round(value*100.0) AS BIGINT))
        |  OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents
        |FROM events ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("run_cents", sum(round(col("value") * lit(100.0)).cast("long")).over(w))
        .select("event_id", "run_cents")
        .orderBy("event_id")
    },

    // Sessionization (gap > 1h starts a session) — the streaming-state
    // analog computed batch-side with windows.
    Q("q23_sessionize",
      """SELECT user_id, CAST(max(sess_id) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
        | SELECT user_id,
        |  CAST(sum(CASE WHEN prev IS NULL OR ts_ns - prev > 3600000000000 THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        | FROM (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
        |        lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev
        |       FROM events) x) y
        |GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      val ord = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("prev", lag("ts_ns", 1).over(ord))
        .withColumn("new_sess",
          when(col("prev").isNull || col("ts_ns") - col("prev") > 3600000000000L, 1L).otherwise(0L))
        .withColumn("sess_id", sum("new_sess").over(cum))
        .groupBy("user_id")
        .agg(max("sess_id").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },

    // §2.6 streaming: the watermarked windowed aggregate, driven batch-
    // mode (Spark's unified model) so DuckDB can oracle it via
    // time_bucket. value totals in exact cents.
    Q("q41_windowed_counts",
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(round(value*100.0) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin
    ) { (s, dir) =>
      graft.streaming.EventStreamAnalytics
        .windowedCounts(Tables.events(s, dir), "1 hour", "2 hours")
        .orderBy("win_start", "event_type")
    },

    // Hourly anomaly metric: count vs trailing-24-observed-hour mean in
    // exact ppm (rational mean: n·1e6·cnt DIV sum — no float). Spark
    // buckets ts_ns, the oracle buckets epoch_us; nested floor-division
    // makes the hour indices identical despite the nanos/micros gap.
    Q("q106_trailing_deviation",
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        |            count(*) AS n
        |           FROM events GROUP BY 1, 2),
        | t AS (SELECT event_type, hour, n,
        |        CAST(sum(n) OVER w AS BIGINT) AS t_sum,
        |        CAST(count(*) OVER w AS BIGINT) AS t_cnt
        |       FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour
        |         ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, CAST(hour AS BIGINT) AS hour, n,
        | n * 1000000 * t_cnt // t_sum AS dev_ppm
        |FROM t WHERE t_cnt > 0 ORDER BY event_type, hour""".stripMargin
    ) { (s, dir) =>
      graft.streaming.EventStreamAnalytics
        .trailingDeviation(Tables.events(s, dir), trailingRows = 24)
        .orderBy("event_type", "hour")
    },

    // S2: payload signature check (HMAC in the engine; content-hash form
    // here so DuckDB can oracle it — sha2/sha256 hex on both sides).
    Q("q24_signature",
      """SELECT event_id, sha256(CAST(event_id AS VARCHAR) || '.' || props) AS sig
        |FROM events WHERE event_id < 1000 ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_id") < 1000)
        .select(col("event_id"),
          sha2(concat(col("event_id").cast("string"), lit("."), col("props")), 256).as("sig"))
        .orderBy("event_id")
    },

    // POINT-IN-TIME REBUILD from the events ledger (round-10 judge
    // task: promote WebhookPipeline.rebuildAsOf from spec-only to an
    // oracle entry). The query synthesizes customer.updated webhook
    // JSON from the events table (created = sec·8 + within-second
    // rank; a >8-events-per-(user,sec) corpus can collide two created
    // values, so BOTH LWW windows carry the event id as the final
    // tie-break — the pipeline via MergeSink.EvtSeqCol ('evt_<id>'
    // lexicographic), the oracle via CAST(event_id AS VARCHAR) DESC,
    // identical orders since the 'evt_' prefix is constant — making
    // the compare deterministic at ANY event density with zero extra
    // jobs), runs the REAL pipeline with the ledger enabled, then
    // calls rebuildAsOf at three sampled instants and returns the
    // rebuilt customers tables. The oracle replays
    // ledger-filter(created <= T) → LWW-by-created → projection
    // straight off the parquet — so the whole ledger write + JSON
    // reconstruction + reparse + route + merge round trip must be
    // semantics-preserving to hash-match.
    Q("q172_pit_rebuild",
      """WITH e0 AS (SELECT event_id, user_id, event_type,
        |        CAST(round(value * 100.0) AS BIGINT) AS cents,
        |        epoch_ns(ts) // 1000000000 AS sec FROM events),
        | e AS (SELECT *, sec * 8 + row_number() OVER (
        |         PARTITION BY user_id, sec ORDER BY event_id) - 1 AS created
        |       FROM e0),
        | b AS (SELECT min(created) AS mn, max(created) AS mx FROM e),
        | ts AS (SELECT q, mn + (mx - mn) * q // 4 AS t
        |        FROM b CROSS JOIN (SELECT unnest([1, 2, 3]) AS q)),
        | r AS (SELECT ts.q, e.*, row_number() OVER (
        |         PARTITION BY ts.q, e.user_id ORDER BY e.created DESC,
        |           CAST(e.event_id AS VARCHAR) DESC) AS rn
        |       FROM e JOIN ts ON e.created <= ts.t)
        |SELECT CAST(q AS BIGINT) AS sample, 'cus_' || user_id AS id,
        | user_id || '@example.test' AS email, event_type AS name,
        | cents AS balance, created, created * 1000000 AS synced_us
        |FROM r WHERE rn = 1 ORDER BY sample, id""".stripMargin
    ) { (s, dir) =>
      import graft.streaming.{SyncConfig, WebhookPipeline}
      val w = Window.partitionBy("user_id", "sec").orderBy("event_id")
      val e = Tables.events(s, dir)
        .withColumn("sec", expr("ts_ns DIV 1000000000"))
        .withColumn("created",
          col("sec") * 8 + row_number().over(w).cast("long") - 1)
        .withColumn("cents", expr("CAST(round(value * 100.0) AS BIGINT)"))
      val raw = e.select(concat(
        lit("{\"id\":\"evt_"), col("event_id").cast("string"),
        lit("\",\"type\":\"customer.updated\",\"created\":"),
        col("created").cast("string"),
        lit(",\"livemode\":false,\"api_version\":\"2024-01-01\","),
        lit("\"data\":{\"object\":{\"id\":\"cus_"),
        col("user_id").cast("string"),
        lit("\",\"email\":\""), col("user_id").cast("string"),
        lit("@example.test\",\"name\":\""), col("event_type"),
        lit("\",\"balance\":"), col("cents").cast("string"),
        lit(",\"created\":"), col("created").cast("string"),
        lit("}}}")).as("value"))
      // PER-JVM work dir, cleared on entry: the result is returned
      // lazily (the driver materializes it after this closure), so a
      // finally-delete would race the read and an eager collect would
      // be customer-cardinality (data-scale). Reuse within one process
      // bounds disk at one run's state across repeated bench sweeps;
      // the pid suffix keeps a bench-cancelled runner that outlived
      // timeOne's 30s join — or a concurrent Verify — from having its
      // live store rm'd by another process's entry (round-13 ADVICE:
      // with a shared fixed path the losing run records a spuriously
      // fast 'completed' min because timeOne swallows the Throwable).
      val tmpRoot = sys.props("java.io.tmpdir")
      val base = tmpRoot + "/graft_q172_pit_" +
        ProcessHandle.current().pid()
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(base))
      // Also reap siblings left by DEAD processes (round-14 ADVICE:
      // pid-suffixed dirs otherwise accumulate one store per bench/
      // verify JVM forever). A live pid's dir is never touched — that
      // is the whole point of the suffix.
      Option(new java.io.File(tmpRoot).listFiles()).foreach(_.foreach { f =>
        val n = f.getName
        if (n.startsWith("graft_q172_pit_")) {
          val pid = n.stripPrefix("graft_q172_pit_")
          if (pid.forall(_.isDigit) && pid.nonEmpty &&
              scala.util.Try(!ProcessHandle.of(pid.toLong)
                .map[Boolean](_.isAlive).orElse(false)).getOrElse(false))
            rm(f)
        }
      })
      new WebhookPipeline(s"$base/store",
        config = SyncConfig(eventsLedger = true)).processBatch(raw, 0L)
      val bounds = s.read.parquet(s"$base/store/events")
        .agg(min("created").as("mn"), max("created").as("mx")).head()
      val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
      // The three rebuilds are independent (each replays the shared
      // read-only ledger into its own outDir), so they submit
      // concurrently (guide §2.6 overlap): each rebuild is a chain of
      // small driver-visible jobs (parse → route stats → one merge),
      // and sequential execution paid three job-launch tails end to
      // end — wall is now ~max(rebuild) instead of the sum. Result
      // rows are unchanged: the union below reads the same three
      // parquet outputs.
      graft.operators.Concurrently.run((1L to 3L).map { q =>
        () => WebhookPipeline.rebuildAsOf(
          s, s"$base/store", s"$base/rebuild_$q", mn + (mx - mn) * q / 4)
      })
      (1L to 3L).map { q =>
        s.read.parquet(s"$base/rebuild_$q/customers").select(
          lit(q).as("sample"), col("id"), col("email"), col("name"),
          col("balance"), col("created"),
          unix_micros(col("last_synced_at")).as("synced_us"))
      }.reduce(_.unionByName(_)).orderBy("sample", "id")
    }
  )
}
