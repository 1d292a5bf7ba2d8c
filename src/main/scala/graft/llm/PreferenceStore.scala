package graft.llm

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.Store

/** Incremental PREFERENCE STORE: preference batches fold into the
  * additive Bradley–Terry state ([[Rlhf.btState]]) on parquet, so the
  * reward model refreshes per batch without rescanning comparison
  * history — the streaming-store discipline (ReplayGuard + atomic
  * swap) applied to the RLHF stage.
  *
  * THE KEY DIFFERENCE from every LWW sink in this repo: an additive
  * statistic is NOT replay-idempotent. MergeSink's tables can record
  * their event guard AFTER the merge because re-applying a guarded
  * upsert is a no-op; re-folding a preference batch DOUBLE-COUNTS its
  * games. So the state table and the batch ledger commit in ONE atomic
  * swap of a common root — any crash leaves either the old (state,
  * ledger) pair or the new pair, never a folded state with an
  * unrecorded batch ([[Store.swap]] — the one swap protocol, whose
  * crash windows heal like every other store's).
  *
  * Scale shape: the state is bounded by distinct pairs COMPARED (a
  * candidate-generator output, orders of magnitude under the corpus);
  * each ingest is one groupBy-sum over (existing state ∪ batch state)
  * and a metadata-only ledger append. The fit ([[Rlhf.fitFromState]])
  * never sees raw comparisons. */
object PreferenceStore {

  private def root(storeDir: String) = s"$storeDir/bt_store"

  /** Fold one preference batch (winner_id, loser_id) into the store.
    * A batch id already in the ledger is dropped whole (at-least-once
    * delivery → exactly-once fold). Returns true when the batch was
    * applied, false when the ledger dropped it. */
  def ingest(comparisons: DataFrame, storeDir: String, batchId: Long): Boolean = {
    val spark = comparisons.sparkSession
    val r = root(storeDir)
    Store.heal(spark, r)
    val exists = Store.exists(spark, r)
    if (exists && spark.read.parquet(s"$r/batches")
        .filter(col("batch_id") === batchId).head(1).nonEmpty)
      return false
    val batchState = Rlhf.btState(comparisons)
    val merged =
      if (exists)
        Rlhf.mergeBtState(Seq(spark.read.parquet(s"$r/state"), batchState))
      else batchState
    val batches =
      if (exists)
        spark.read.parquet(s"$r/batches")
          .unionByName(idsDf(spark, Seq(batchId))).distinct()
      else idsDf(spark, Seq(batchId))
    Store.swap(spark, r) { tmp =>
      // two independent staging writes under one temp root, committed
      // by the single swap below — submit concurrently (guide §2.6,
      // the RollupIngest staging pattern): wall is max(write), not two
      // sequential write-job tails, and atomicity is the rename's, not
      // the write order's
      graft.operators.Concurrently.run(Seq(
        () => merged.write.mode(SaveMode.Overwrite).parquet(s"$tmp/state"),
        () => batches.write.mode(SaveMode.Overwrite).parquet(s"$tmp/batches")))
    }
    true
  }

  /** Fit the reward model from the folded state — bit-identical to a
    * one-shot [[Rlhf.bradleyTerry]] over every ingested batch's
    * comparisons (q180's fold == one-shot property, now across a
    * crash-safe store boundary). */
  def fit(spark: SparkSession, storeDir: String, iters: Int = 8,
          scale: Long = 1000000L): DataFrame = {
    val r = root(storeDir)
    Store.heal(spark, r)
    Rlhf.fitFromState(spark.read.parquet(s"$r/state"), iters, scale)
  }

  /** Current state row count + recorded batch ids (diagnostics). */
  def status(spark: SparkSession, storeDir: String): (Long, Seq[Long]) = {
    val r = root(storeDir)
    Store.heal(spark, r)
    if (!Store.exists(spark, r)) (0L, Nil)
    else (spark.read.parquet(s"$r/state").count(),
      spark.read.parquet(s"$r/batches").collect().map(_.getLong(0)).toSeq.sorted)
  }

  private def idsDf(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("batch_id")
  }
}
