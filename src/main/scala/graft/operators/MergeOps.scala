package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's sync dataflow operators, re-expressed as Spark
  * DataFrame transforms. Citations are file:line into /root/reference.
  *
  * Scale notes (100 TB): every operator here is a single keyed shuffle
  * (window or join on the entity key) with map-side partial work where
  * Spark supports it; none collects to the driver. Anti-joins broadcast
  * automatically when the id-set side is small (AQE), which is the common
  * case for per-batch FK checks.
  */
object MergeOps {

  /** Intra-batch last-writer-wins dedup (reference A2): among conflicting
    * versions of a key, keep the one with the greatest (orderCols) tuple.
    * The reference achieves this row-at-a-time via the `last_synced_at`
    * guard in its upsert SQL (packages/sync-engine/src/database/
    * postgres.ts:196-203); in Spark it is one window per micro-batch.
    * `orderCols` should end with a unique tiebreaker for determinism.
    */
  def lwwLatest(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Cross-batch guarded merge (reference S9): apply `source` rows over
    * `target` rows only where source.tsCol is STRICTLY greater — the
    * out-of-order/duplicate-delivery guard of
    * `upsertManyWithTimestampProtection` (postgres.ts:64-104; strict `<`
    * at :203, proven by webhooks.test.ts:202-284). Both sides must already
    * be unique per key (run [[lwwLatest]] first). New keys insert; stale
    * source rows silently no-op, exactly like the reference.
    */
  def mergeGuarded(target: DataFrame, source: DataFrame, key: String, tsCol: String): DataFrame = {
    val t = target.select(target.columns.toIndexedSeq.map(c => col(c).as("t_" + c)): _*)
    val s = source.select(source.columns.toIndexedSeq.map(c => col(c).as("s_" + c)): _*)
    val joined = t.join(s, col("t_" + key) === col("s_" + key), "full_outer")
    // the t.ts IS NULL arm mirrors guardedUpsertSql/guardedMergeSql
    // (postgres.ts:203 writes `t.ts IS NULL OR t.ts < s.ts`): a stored
    // row whose timestamp was nulled by a malformed payload must still
    // be updatable by a corrected redelivery — without the arm,
    // `s_ts > NULL` is NULL → false and the stale row is kept forever,
    // silently diverging from the JDBC path
    val takeSource = col("t_" + key).isNull ||
      (col("s_" + key).isNotNull &&
        (col("t_" + tsCol).isNull || col("s_" + tsCol) > col("t_" + tsCol)))
    // SCHEMA EVOLUTION across a migration window, with Postgres
    // `DO UPDATE SET <listed cols>` semantics (the reference updates
    // exactly the columns its projection lists, postgres.ts:181-204):
    //   - a column only the SOURCE carries (migration just added it)
    //     widens the table — existing rows read null;
    //   - a column only the TARGET carries (an old-format batch after
    //     the migration) is PRESERVED even when the source row wins —
    //     a delivery cannot update a column it didn't carry. The
    //     previous behavior silently dropped new columns and crashed on
    //     old-format batches.
    val tCols = target.columns.toIndexedSeq
    val sCols = source.columns.toSet
    val all = tCols ++ source.columns.filterNot(tCols.contains)
    val cols = all.map { c =>
      val tVal =
        if (tCols.contains(c)) col("t_" + c)
        else lit(null).cast(source.schema(c).dataType)
      val sVal = if (sCols.contains(c)) col("s_" + c) else tVal
      when(takeSource, sVal).otherwise(tVal).as(c)
    }
    joined.select(cols: _*)
  }

  /** Missing-FK anti-join (reference J1, `findMissingEntries`,
    * postgres.ts:106-120): candidate ids not present in the mirror table.
    * The distinct() reproduces `getUniqueIds` (stripeSync.ts:38-46).
    */
  def missingKeys(candidates: DataFrame, candKey: String,
                  table: DataFrame, tableKey: String): DataFrame = {
    val ids = candidates.select(col(candKey).as(tableKey))
      .where(col(tableKey).isNotNull).distinct()
    ids.join(table.select(tableKey), Seq(tableKey), "left_anti")
  }

  /** Set-difference delete (reference J3/J4): rows of `existing` whose key
    * is absent from `current` — `markDeletedSubscriptionItems`
    * (stripeSync.ts:1559-1583) and `deleteRemovedActiveEntitlements`
    * (stripeSync.ts:1650-1660). Caller decides soft (flag) vs hard delete.
    */
  def setDiffDelete(existing: DataFrame, current: DataFrame, key: String): DataFrame =
    existing.join(current.select(key).distinct(), Seq(key), "left_anti")

  /** SCD2 history build: turn a change stream into slowly-changing-
    * dimension type-2 rows — per key, versions numbered in (tsCol,
    * tieCols) order, each valid from its own timestamp until the next
    * change (`valid_to` NULL on the current row). The reference's mirror
    * keeps ONLY latest state (every upsert overwrites, postgres.ts:
    * 181-204); this is the history-preserving sink mode a warehouse user
    * asks for next, and the base table [[asOfState]] serves point-in-time
    * queries from. One window per key partition — no global order, scales
    * as a single keyed shuffle. `tieCols` must make the order total for
    * deterministic versions under equal timestamps.
    */
  def scd2History(df: DataFrame, keys: Seq[String], tsCol: String,
                  tieCols: Seq[String]): DataFrame =
    scd2HistoryFlagged(df, keys, tsCol, tieCols)
      .filter(col("is_change")).drop("is_change")

  /** [[scd2History]] with the no-change collapse FLAGGED instead of
    * filtered: every distinct input row survives, carrying
    * `is_change` — false for a row repeating the previous row's content
    * (all tie columns, null-safe). This is the form a PERSISTED history
    * must use: dropping collapsed rows at merge time permanently
    * discards evidence, and a late out-of-order change landing BETWEEN
    * two identical-content rows then re-tiles that key WITHOUT the
    * second row — serving a wrong is_current under exactly the
    * at-least-once/out-of-order regime the sink documents (e.g. A@t1,
    * refetch A@t3 collapsed, late B@t2 arrives → stored history would
    * end current=B while the one-shot ends current=A@t3). Keeping the
    * row flagged lets [[scd2Merge]]'s replay re-decide changehood.
    *
    * Derived columns on change rows are exactly [[scd2History]]'s
    * (version = rank among changes, [valid_from, valid_to) tiles to the
    * next CHANGE, is_current on the open interval). No-change rows get
    * the covering change's version and an EMPTY interval
    * (valid_to = valid_from) so [[asOfState]] never matches them —
    * point-in-time reads work on the flagged store unfiltered. Serve
    * the classic history with `.filter(col("is_change"))`.
    *
    * Why collapse at all: SCD2 versions track changes, and refetch-
    * with-now() sources (API-revalidated children, whose sync ts is
    * the batch's wall clock per the reference's two-timestamp rule) would
    * otherwise mint a no-change version on every redelivery.
    * Same single keyed shuffle: the extra window functions share w's
    * partitioning and sort.
    */
  def scd2HistoryFlagged(df: DataFrame, keys: Seq[String], tsCol: String,
                         tieCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((tsCol +: tieCols).map(col): _*)
    val isChg =
      if (tieCols.isEmpty) lit(true)
      else {
        val content = struct(tieCols.map(col): _*)
        val prev = lag(content, 1).over(w)
        prev.isNull || !(prev <=> content)
      }
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = w.rowsBetween(1, Window.unboundedFollowing)
    // ts is non-decreasing in window order, so the min over FOLLOWING
    // change rows is the next change's ts — lead() over the collapsed
    // set, computed without collapsing
    val nextChangeTs = min(when(col("is_change"), col(tsCol))).over(wNext)
    df.withColumn("is_change", isChg)
      .withColumn("version", sum(col("is_change").cast("long")).over(wRun))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to",
        when(col("is_change"), nextChangeTs).otherwise(col(tsCol)))
      .withColumn("is_current", col("is_change") && nextChangeTs.isNull)
  }

  /** Point-in-time state over an [[scd2History]] table: the one version
    * of each key whose [valid_from, valid_to) interval covers `at`. A
    * filter, not a window — prunes before any downstream join.
    */
  def asOfState(history: DataFrame, at: Column): DataFrame =
    history.filter(col("valid_from") <= at &&
      (col("valid_to").isNull || col("valid_to") > at))

  /** Incremental SCD2 maintenance: fold a batch of new change rows into
    * an existing [[scd2HistoryFlagged]] table. Only the batch's keys are
    * rebuilt — their history rows (which carry the original change
    * columns 1:1, INCLUDING collapsed no-change rows, kept flagged) are
    * unioned with the batch and re-windowed; every other key's rows pass
    * through untouched — so per-batch cost scales with the batch's key
    * set, not the table. Late (out-of-order) changes insert mid-history
    * and renumber/re-tile that key correctly — including re-deciding
    * changehood of previously-collapsed rows, which is why the store
    * must be the flagged form — and exact redelivery of a change row is
    * dropped by the (keys, tsCol, tieCols) identity guard — the same
    * at-least-once idempotence the guarded upsert sink provides
    * (postgres.ts:196-203). MergeOpsSpec proves convergence: any batch
    * split in any delivery order, with redelivery and with late changes
    * landing between identical-content rows, equals the one-shot build.
    */
  def scd2Merge(history: DataFrame, batch: DataFrame, keys: Seq[String],
                tsCol: String, tieCols: Seq[String]): DataFrame = {
    val derived = Seq("version", "valid_from", "valid_to", "is_current", "is_change")
    val affected = batch.select(keys.map(col): _*).distinct()
    val untouched = history.join(affected, keys, "left_anti")
    val replayed = history.drop(derived: _*)
      .join(affected, keys, "left_semi")
      // allowMissingColumns: a batch carrying a migration-added column
      // (or an old-format replay missing one) null-fills the other side
      // — for SCD2 the null IS the honest content (change detection is
      // null-safe), unlike the latest-state merge's preserve semantics
      .unionByName(batch, allowMissingColumns = true)
      .dropDuplicates(keys ++ (tsCol +: tieCols))
    untouched.unionByName(
      scd2HistoryFlagged(replayed, keys, tsCol, tieCols),
      allowMissingColumns = true)
  }
}
