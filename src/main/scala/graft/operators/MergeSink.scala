package graft.operators


import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.TableDef
import graft.store.Store

/** The single most load-bearing custom piece (SURVEY §7.4): the guarded
  * upsert sink — `upsertManyWithTimestampProtection`
  * (postgres.ts:64-104; SQL builder :181-204).
  *
  * Two modes:
  *   - **Lakehouse**: parquet-backed table directory; merge = read
  *     current + [[MergeOps.mergeGuarded]] + atomic swap. Used by tests
  *     and the local pipeline. On a real deployment this is a table
  *     format MERGE (Delta/Iceberg `MERGE WHEN MATCHED AND s.ts > t.ts`),
  *     which shares the exact plan shape produced here.
  *   - **JDBC SQL generation**: the text of the reference's guarded
  *     `INSERT … ON CONFLICT … DO UPDATE … WHERE` statement for a
  *     Postgres mirror driven from foreachBatch (no Postgres in this
  *     container), plus the portable ANSI `MERGE` form
  *     ([[guardedMergeSql]]) whose guard semantics ARE executed and
  *     verified against a live in-memory Derby (MergeSinkJdbcSpec).
  *
  * Both paths run intra-batch LWW first: `ON CONFLICT` cannot see two
  * rows for one key in a single statement, and a lakehouse merge must
  * not produce duplicate keys (§7.5 hard part #1).
  */
object MergeSink {

  /** Transient tie-break column for intra-batch LWW: when a batch
    * carries it (the webhook pipeline threads the envelope's event id
    * through, WebhookPipeline.upsert), two same-key rows with EQUAL
    * sync timestamps resolve deterministically to the lexicographically
    * larger event id instead of whichever row the shuffle surfaced
    * first. The reference never faces the tie (it processes deliveries
    * serially, stripeSync.ts one-at-a-time); a set-oriented batch does,
    * and a nondeterministic winner makes replays hash-flaky. Dropped
    * before the merge — it never reaches the stored table. */
  val EvtSeqCol = "__evt_seq"

  /** Transient action-rank column ([[graft.sources.StripeEvents.rank]]):
    * when a batch carries it, one call applies what would otherwise be
    * one guarded merge per rank, run in rank order. Serial strict-`>`
    * merges keep, per key, the greatest timestamp with ties going to
    * the EARLIEST-applied row — and a null-timestamp row is replaced by
    * whatever comes after it — so intra-batch LWW breaks timestamp
    * ties by rank ascending, and null-timestamp ties by rank
    * descending. Dropped before the merge, like [[EvtSeqCol]]. */
  val RankCol = "__action_rank"

  /** Guarded merge of `batch` into the parquet table at `dir`.
    * Strict `>` on `tsCol` (reference uses strict `<` on the stored side,
    * postgres.ts:203): same-timestamp replays are no-ops.
    *
    * NULL-key rows (malformed payloads, id-less objects) are DROPPED at
    * the door: a null key can never equi-join the target, so each batch
    * would append one more junk row forever; the reference's Postgres PK
    * instead fails the whole statement, which in a webhook stream means
    * endlessly retrying a poison event. Dropping the row and keeping the
    * batch is the streaming-correct choice.
    *
    * `deleteIds` (first column = keys) hard-deletes those keys from the
    * merged rows in the same write — S10 applied after the upsert
    * whatever the timestamps, as a separate delete pass would, without
    * a second read + rewrite of the table. */
  def upsertParquet(batch: DataFrame, dir: String, tdef: TableDef,
                    tsCol: String = "last_synced_at",
                    deleteIds: Option[DataFrame] = None): Unit = {
    val spark = batch.sparkSession
    val ranked =
      if (!batch.columns.contains(RankCol)) batch
      else batch.withColumn(RankCol,
        when(col(tsCol).isNull, col(RankCol)).otherwise(-col(RankCol)))
    val deduped = MergeOps.lwwLatest(
        ranked.filter(col(tdef.key).isNotNull), Seq(tdef.key),
        Seq(tsCol, RankCol, EvtSeqCol).filter(batch.columns.contains))
      .drop(RankCol, EvtSeqCol)
    val path = s"$dir/${tdef.table}"
    val merged = Store.read(spark, path) match {
      case Some(target) => MergeOps.mergeGuarded(target, deduped, tdef.key, tsCol)
      case None => deduped
    }
    Store.commit(deleteIds.fold(merged)(withoutKeys(merged, _, tdef)), path)
  }

  /** Guarded upsert of `batch` plus a hard prune in the SAME commit:
    * `stale`, evaluated against the POST-merge table, names the rows to
    * drop before the single atomic swap. This is the one-pass form of
    * upsert-then-delete — the reference's entitlement delta
    * (stripeSync.ts:1650-1660 upsert + :1683-1712 delete) runs it as two
    * statements inside one transaction; on parquet each pass is a full
    * table read + rewrite, so fusing them halves the sink's job count
    * (and the webhook pipeline's micro-batch latency is job-launch
    * bound at small batch sizes). */
  def upsertPruneParquet(batch: DataFrame, dir: String, tdef: TableDef,
                         stale: DataFrame => DataFrame,
                         tsCol: String = "last_synced_at"): Unit = {
    val spark = batch.sparkSession
    val deduped = MergeOps.lwwLatest(
      batch.filter(col(tdef.key).isNotNull), Seq(tdef.key), Seq(tsCol))
    val path = s"$dir/${tdef.table}"
    val merged0 = Store.read(spark, path) match {
      case Some(target) => MergeOps.mergeGuarded(target, deduped, tdef.key, tsCol)
      case None => deduped
    }
    // Stage the merge once: `stale` AND the anti-join both consume it,
    // and an unstaged plan re-runs the target scan + merge window twice
    // per batch — giving back most of the fused-commit saving
    val merged = graft.llm.Stage(merged0)
    val victims = stale(merged).select(col(tdef.key))
    Store.commit(merged.join(victims, Seq(tdef.key), "left_anti"), path)
  }

  /** SCD2 history sink — the `mode=history` companion to the LWW
    * mirror. The reference keeps ONLY latest state (every upsert
    * overwrites, postgres.ts:181-204); this folds each batch into
    * `dir/<table>__history` via [[MergeOps.scd2Merge]] so every distinct
    * (key, event-time, payload) version becomes one `[valid_from,
    * valid_to)` interval row. Exact redelivery is dropped by the
    * identity guard and late events insert mid-history, renumbering only
    * their own key — the same at-least-once idempotence as the guarded
    * upsert, with per-batch cost scaling in the batch's key set, not the
    * history size. `updated_at` (wall-clock bookkeeping) is dropped
    * before the fold: it differs per delivery, so keeping it would make
    * redelivered rows look like distinct versions. The remaining payload
    * columns double as the deterministic tiebreak for equal event
    * timestamps, so history content is independent of batch boundaries
    * and delivery order (proven in WebhookPipelineSpec).
    *
    * The store is the FLAGGED form ([[MergeOps.scd2HistoryFlagged]]):
    * no-change rows survive with `is_change = false` so a late
    * out-of-order change landing between identical-content rows can
    * re-tile the key correctly on replay — filtering them at merge time
    * would permanently discard the later row and serve a wrong
    * is_current (the bug class MergeOpsSpec's late-change test pins).
    * Read the served history through [[readHistory]]. */
  def historyParquet(batch: DataFrame, dir: String, tdef: TableDef,
                     tsCol: String = "last_synced_at"): Unit = {
    val spark = batch.sparkSession
    val clean = batch.filter(col(tdef.key).isNotNull).drop("updated_at")
    val tieCols = clean.columns.filterNot(c => c == tdef.key || c == tsCol).toSeq
    val path = s"$dir/${tdef.table}__history"
    val merged = Store.read(spark, path) match {
      case Some(history) =>
        MergeOps.scd2Merge(history, clean, Seq(tdef.key), tsCol, tieCols)
      case None =>
        MergeOps.scd2HistoryFlagged(
          clean.dropDuplicates(tdef.key +: tsCol +: tieCols),
          Seq(tdef.key), tsCol, tieCols)
    }
    Store.commit(merged, path)
  }

  /** Served SCD2 history: the `<table>__history` store minus the flagged
    * no-change rows — classic dense-versioned, tiled SCD2 rows. Point-in-
    * time reads ([[MergeOps.asOfState]]) may skip the filter: no-change
    * rows carry empty intervals and never cover any timestamp. */
  def readHistory(spark: SparkSession, dir: String,
                  table: String): DataFrame = {
    val path = s"$dir/${table}__history"
    Store.heal(spark, path)
    spark.read.parquet(path).filter(col("is_change")).drop("is_change")
  }

  /** Hard delete by key (S10: `DELETE … WHERE id = :id`,
    * postgres.ts:17-25). */
  def deleteParquet(ids: DataFrame, dir: String, tdef: TableDef): Unit = {
    val spark = ids.sparkSession
    val path = s"$dir/${tdef.table}"
    Store.read(spark, path).foreach(target =>
      Store.commit(withoutKeys(target, ids, tdef), path))
  }

  /** `rows` minus the keys named by `ids`' first column. */
  private def withoutKeys(rows: DataFrame, ids: DataFrame, tdef: TableDef): DataFrame =
    MergeOps.setDiffDelete(rows, ids.select(col(ids.columns.head).as(tdef.key)), tdef.key)

  /** Guarded upsert into a live JDBC database, foreachBatch-compatible:
    * intra-batch LWW → bulk-append the batch to a staging table
    * (executor-parallel JDBC writes) → one ANSI MERGE applies it with
    * the timestamp guard. This is the reference's actual sink shape
    * (S8/S9: batched writes + conditional upsert) with the per-row
    * ON CONFLICT round-trips replaced by a staged set-based merge —
    * the 1000-executor-friendly form. Works on any MERGE-capable
    * engine; exercised against live Derby in MergeSinkJdbcSpec.
    *
    * `stringType` sizes string columns in the auto-created staging
    * table (Derby's default StringType mapping is CLOB, which cannot
    * sit in a MERGE equality predicate). */
  def upsertJdbc(batch: DataFrame, url: String, tdef: TableDef,
                 tsCol: String = "last_synced_at",
                 stringType: String = "VARCHAR(512)"): Unit = {
    // same NULL-key poison guard as upsertParquet (the staging table has
    // a NOT NULL PK — one bad row would fail the whole batch merge)
    val deduped = MergeOps.lwwLatest(
      batch.filter(col(tdef.key).isNotNull), Seq(tdef.key), Seq(tsCol))
    val stage = s"${tdef.table}__stage"
    val stringCols = deduped.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(f => s"${f.name} $stringType").mkString(", ")
    deduped.write
      .mode(SaveMode.Overwrite)
      .option("createTableColumnTypes", stringCols)
      .jdbc(url, s""""$stage"""", new java.util.Properties)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      ensureJdbcTable(conn, tdef, stringType, tsCol)
      val st = conn.createStatement()
      try st.executeUpdate(guardedMergeSql(tdef, s""""$stage"""", tsCol = tsCol))
      finally st.close()
    } finally conn.close()
  }

  /** CREATE TABLE for the merge target if absent (Derby lacks IF NOT
    * EXISTS — the duplicate-table error X0Y32 is swallowed). */
  private def ensureJdbcTable(conn: java.sql.Connection, tdef: TableDef,
                              stringType: String,
                              tsCol: String = "last_synced_at"): Unit = {
    def ty(c: String) = tdef.sparkType(c) match {
      case org.apache.spark.sql.types.LongType    => "BIGINT"
      case org.apache.spark.sql.types.BooleanType => "BOOLEAN"
      case org.apache.spark.sql.types.DoubleType  => "DOUBLE"
      case _                                      => stringType
    }
    val cols = tdef.columns.map(c =>
      s""""$c" ${ty(c)}${if (c == tdef.key) " NOT NULL" else ""}""") :+
      s""""$tsCol" TIMESTAMP"""
    val ddl = s"""CREATE TABLE "${tdef.table}" (${cols.mkString(", ")},
                 |  PRIMARY KEY ("${tdef.key}"))""".stripMargin
    val st = conn.createStatement()
    try st.executeUpdate(ddl)
    catch {
      case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () // exists
    } finally st.close()
  }

  /** The reference's guarded upsert SQL, one statement per batch
    * (multi-row VALUES instead of per-row statements — same semantics as
    * postgres.ts:181-204, batched for a 1000-executor world where
    * per-row round trips are the bottleneck). */
  def guardedUpsertSql(tdef: TableDef, schema: String = "stripe"): String = {
    val cols = (tdef.columns :+ "last_synced_at").map(c => s""""$c"""")
    val updates = (tdef.columns.filterNot(_ == tdef.key) :+ "last_synced_at")
      .map(c => s""""$c" = EXCLUDED."$c"""").mkString(", ")
    s"""INSERT INTO "$schema"."${tdef.table}" (${cols.mkString(", ")})
       |VALUES %s
       |ON CONFLICT ("${tdef.key}") DO UPDATE SET $updates
       |WHERE "${tdef.table}"."last_synced_at" IS NULL
       |   OR "${tdef.table}"."last_synced_at" < EXCLUDED."last_synced_at"""".stripMargin
  }

  /** The same guarded upsert as ANSI `MERGE` (SQL:2003) from a staging
    * table — the portable form for engines without Postgres's
    * `ON CONFLICT` (Derby, Iceberg/Delta SQL front ends, warehouse
    * MERGE). The staging-table source is also the realistic batch
    * shape: executors bulk-append the micro-batch to the stage, one
    * MERGE applies it. Semantics identical to [[guardedUpsertSql]]:
    * strict `<` guard, so same-timestamp replays no-op.
    * Integration-tested against a live in-memory Derby
    * (MergeSinkJdbcSpec). */
  def guardedMergeSql(tdef: TableDef, sourceTable: String,
                      schema: Option[String] = None,
                      tsCol: String = "last_synced_at"): String = {
    val allCols = tdef.columns :+ tsCol
    def q(c: String) = s""""$c""""
    val tgt = schema.map(s => s""""$s".""").getOrElse("") + q(tdef.table)
    val updates = allCols.filterNot(_ == tdef.key)
      .map(c => s"${q(c)} = s.${q(c)}").mkString(", ")
    s"""MERGE INTO $tgt t
       |USING $sourceTable s
       |ON t.${q(tdef.key)} = s.${q(tdef.key)}
       |WHEN MATCHED AND (t.${q(tsCol)} IS NULL
       |                  OR t.${q(tsCol)} < s.${q(tsCol)})
       |  THEN UPDATE SET $updates
       |WHEN NOT MATCHED THEN INSERT (${allCols.map(q).mkString(", ")})
       |  VALUES (${allCols.map(c => s"s.${q(c)}").mkString(", ")})""".stripMargin
  }

  /** Idempotent DDL bootstrap (S12 migration runner analog,
    * migrate.ts:15-66): CREATE TABLE IF NOT EXISTS per TableDef. */
  def createTableSql(tdef: TableDef, schema: String = "stripe"): String = {
    def pg(c: String) = tdef.sparkType(c) match {
      case org.apache.spark.sql.types.LongType    => "bigint"
      case org.apache.spark.sql.types.BooleanType => "boolean"
      case org.apache.spark.sql.types.DoubleType  => "double precision"
      case _                                      => "text"
    }
    val cols = tdef.columns.map(c => s""""$c" ${pg(c)}""") ++ Seq(
      """"updated_at" timestamptz""", """"last_synced_at" timestamptz""")
    s"""CREATE TABLE IF NOT EXISTS "$schema"."${tdef.table}" (
       |  ${cols.mkString(",\n  ")},
       |  PRIMARY KEY ("${tdef.key}")
       |)""".stripMargin
  }
}
