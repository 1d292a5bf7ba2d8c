package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.llm.{PreferenceStore, Rlhf}
import graft.store.Store

/** The additive preference store's exactly-once contract
  * ([[graft.llm.PreferenceStore]]): state + batch ledger move in one
  * atomic swap, so a planted mid-swap crash heals, a redelivered batch
  * is dropped with state untouched, and the folded state fits
  * bit-identically to the one-shot history fit. qs10 runs the same
  * lifecycle at bench scale; this pins it on literal games. */
class PreferenceStoreSpec extends SparkSpec {
  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  test("ingest folds batches; replayed batch is a ledger no-op; fold == one-shot") {
    val dir = Files.createTempDirectory("graft_ps1").toString
    try {
      val b0 = Seq((1L, 2L), (1L, 2L), (2L, 3L)).toDF("winner_id", "loser_id")
      val b1 = Seq((1L, 2L), (3L, 2L), (1L, 3L)).toDF("winner_id", "loser_id")
      assert(PreferenceStore.ingest(b0, dir, 0L))
      assert(PreferenceStore.ingest(b1, dir, 1L))
      val before = spark.read.parquet(s"$dir/bt_store/state")
        .as[(Long, Long, Long, Long)].collect().toSet
      // cross-batch (1,2) pair must have merged: games 2 + 1 = 3
      assert(before.exists(r => r._1 == 1L && r._2 == 2L && r._3 == 3L))
      // redelivery: dropped whole, state content untouched
      assert(!PreferenceStore.ingest(b1, dir, 1L))
      val after = spark.read.parquet(s"$dir/bt_store/state")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(after == before, "replayed batch must not change the state")
      val fitted = PreferenceStore.fit(spark, dir, iters = 8)
        .as[(Long, Long)].collect().toSet
      val oneShot = Rlhf.bradleyTerry(b0.unionAll(b1), iters = 8)
        .as[(Long, Long)].collect().toSet
      assert(fitted == oneShot)
    } finally rm(new java.io.File(dir))
  }

  test("planted mid-swap crash (root at __old) heals on the next ingest") {
    val dir = Files.createTempDirectory("graft_ps2").toString
    try {
      val b0 = Seq((1L, 2L)).toDF("winner_id", "loser_id")
      assert(PreferenceStore.ingest(b0, dir, 0L))
      // simulate the kill window between Store.swap's two renames
      val store = s"$dir/bt_store"
      assert(Store.fs(spark, store).rename(new org.apache.hadoop.fs.Path(store),
        new org.apache.hadoop.fs.Path(Store.retired(store))))
      val b1 = Seq((2L, 1L)).toDF("winner_id", "loser_id")
      assert(PreferenceStore.ingest(b1, dir, 1L), "ingest must heal, then fold")
      val (pairs, ids) = PreferenceStore.status(spark, dir)
      assert(pairs == 1L && ids == Seq(0L, 1L))
      val st = spark.read.parquet(s"$dir/bt_store/state")
        .as[(Long, Long, Long, Long)].head()
      assert(st == ((1L, 2L, 2L, 1L)), "healed state must carry both batches' games")
    } finally rm(new java.io.File(dir))
  }
}
