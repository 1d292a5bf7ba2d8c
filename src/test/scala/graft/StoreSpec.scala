package graft

import org.apache.spark.sql.functions.lit
import graft.store.Store

/** The shared stage-and-swap protocol ([[graft.store.Store]]) and the
  * Hadoop-resolved dataset schema cache ([[graft.Tables]]). */
class StoreSpec extends SparkSpec {
  import spark.implicits._

  test("commit refuses to publish over an unhealed crash window") {
    val root = tmpDir("swap-refuse")
    val path = s"$root/table"
    // a crash between the swap renames: only __old survives
    Seq((1L, "only-copy")).toDF("id", "v").write.parquet(path + "__old")
    val batch = Seq((2L, "batch")).toDF("id", "v")
    intercept[IllegalStateException] {
      Store.commit(batch, path)
    }
    // the sole copy survives the refusal, and healing then recovers it
    Store.heal(spark, path)
    assert(spark.read.parquet(path).as[(Long, String)].collect().toSeq ==
      Seq((1L, "only-copy")))
  }

  test("read, compact and evict keep a partitioned store's layout") {
    val path = s"file:${tmpDir("store-parts")}/ids"
    (0 until 3).foreach(i => Store.append(
      (i * 10L until i * 10L + 10L).toDF("id").withColumn("bucket", $"id" % 4),
      path, "bucket"))
    // the footer schema plus the discovered partition column, as
    // inference would give it
    val stored = Store.read(spark, path).get
    assert(stored.schema == spark.read.parquet(path).schema)
    val (before, after) = Store.compact(spark, path)
    assert(before == 12 && after == 4, s"$before -> $after")
    assert(Store.partitions(spark, path, "bucket") == Set(0L, 1L, 2L, 3L))
    Store.evict(spark, path, (0L until 25L).toDF("victim"), "id")
    assert(Store.read(spark, path).get.select("id").as[Long].collect().sorted.toSeq ==
      (25L until 30L))
    // nothing survives: the store is deleted, not left a schema-less husk
    Store.evict(spark, path, (0L until 30L).toDF("victim"), "id")
    assert(Store.read(spark, path).isEmpty)
  }

  test("Tables schema cache: one entry per path, replaced on an in-place rewrite") {
    val dir = tmpDir("tables-cache")
    val path = s"$dir/t.parquet"
    def rewrite(cols: String*): Unit =
      spark.range(1).select(cols.map(c => lit(1L).as(c)): _*)
        .write.mode("overwrite").parquet(path)
    val entries = Tables.schemaCache.size
    rewrite("a")
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("a"))
    rewrite("a", "b")
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("a", "b"))
    rewrite("c")
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("c"))
    assert(Tables.schemaCache.size == entries + 1)
    assert(Tables.schemaCache(path)._2.fieldNames.toSeq == Seq("c"))
  }
}
