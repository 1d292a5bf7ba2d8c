package graft

import org.apache.spark.sql.functions.lit
import graft.store.Store

/** The shared stage-and-swap protocol ([[graft.store.Store]]) and the
  * Hadoop-resolved dataset schema cache ([[graft.Tables]]). */
class StoreSpec extends SparkSpec {
  import spark.implicits._

  /** Thrown from a stage step to stop a swap at its stage-only window. */
  private final class Crash extends RuntimeException

  test("commit refuses to publish over an unhealed crash window") {
    val root = tmpDir("swap-refuse")
    val path = s"$root/table"
    // a crash between the swap renames: only the retired copy survives
    Seq((1L, "only-copy")).toDF("id", "v").write.parquet(Store.retired(path))
    val batch = Seq((2L, "batch")).toDF("id", "v")
    intercept[IllegalStateException] {
      Store.commit(batch, path)
    }
    // the sole copy survives the refusal, and healing then recovers it
    Store.heal(spark, path)
    assert(spark.read.parquet(path).as[(Long, String)].collect().toSeq ==
      Seq((1L, "only-copy")))

    // The same contract over Store's three shapes — a flat commit, a
    // commit of one batch_id=N subdirectory inside a partitioned parent,
    // and a multi-directory swap — at each crash window: stage only;
    // live retired, nothing published; published with the retired copy
    // still present. A read returns exactly the old rows or the new.
    def rows(v: Long) = Seq((v, s"v$v")).toDF("id", "v")
    val flat = s"$root/flat"
    val parent = s"$root/parted"
    val sub = s"$parent/batch_id=1"
    val multi = s"$root/multi"
    Store.commit(rows(0), s"$parent/batch_id=0")
    def stage(path: String, v: Long)(tmp: String): Unit =
      if (path == multi) Seq("a", "b").foreach(d => rows(v).write.parquet(s"$tmp/$d"))
      else rows(v).write.parquet(tmp)
    def publish(path: String, v: Long): Unit =
      if (path == multi) Store.swap(spark, multi)(stage(multi, v))
      else Store.commit(rows(v), path)
    // the batch_id values the parent's partition discovery finds, as
    // strings: a staged or retired copy would show as a phantom value
    def parentBatches(): Set[String] =
      spark.read.parquet(parent).select($"batch_id".cast("string")).as[String]
        .collect().toSet
    def read(path: String): Set[(Long, String)] =
      if (path == multi) {
        Store.heal(spark, multi)
        val Seq(a, b) = Seq("a", "b").map(d =>
          Store.read(spark, s"$multi/$d").get.as[(Long, String)].collect().toSet)
        assert(a == b, s"mixed versions: $a / $b")
        a
      } else Store.read(spark, path).get.as[(Long, String)].collect().toSet
    def reads(path: String, v: Long): Unit = {
      if (path == sub) assert(parentBatches().subsetOf(Set("0", "1")))
      assert(read(path) == Set((v, s"v$v")), s"$path at v$v")
      if (path == sub)
        assert(spark.read.parquet(parent).select("id").as[Long].collect().toSet == Set(0L, v))
    }
    Seq(flat, sub, multi).foreach { path =>
      val f = Store.fs(spark, path)
      val live = new org.apache.hadoop.fs.Path(path)
      val old = new org.apache.hadoop.fs.Path(Store.retired(path))
      publish(path, 1)
      // stage only: the staged copy is complete, the live one untouched
      intercept[Crash](Store.swap(spark, path) { tmp =>
        stage(path, 2)(tmp)
        reads(path, 1)
        throw new Crash
      })
      reads(path, 1)
      // live retired, nothing published: refused until healed, then old
      assert(f.rename(live, old))
      if (path == sub) assert(parentBatches() == Set("0"))
      intercept[IllegalStateException](publish(path, 2))
      reads(path, 1)
      // published, retired copy still present: new
      publish(path, 2)
      stage(path, 1)(old.toString)
      reads(path, 2)
      // the next commit drops the leftover
      publish(path, 3)
      reads(path, 3)
      assert(!f.exists(old))
    }
    // a stage step that throws leaves no staged copy behind
    Seq(root, parent).foreach(d => assert(
      Store.fs(spark, d).listStatus(new org.apache.hadoop.fs.Path(d))
        .forall(!_.getPath.getName.startsWith(".")), d))
  }

  test("listers skip a retired copy beside a table or a partition, and heal a lone one") {
    val root = tmpDir("store-list")
    Store.commit(Seq(1L).toDF("id"), s"$root/customers")
    Seq(0L, 1L).foreach(p => Store.commit(Seq(p).toDF("id"), s"$root/parted/p=$p"))
    Seq(s"$root/customers", s"$root/parted/p=1").foreach(p =>
      Seq(9L).toDF("id").write.parquet(Store.retired(p)))
    assert(Store.subdirs(spark, root) == Seq("customers", "parted"))
    assert(Store.subdirs(spark, s"$root/parted") == Seq("p=0", "p=1"))
    // Layout.maintain lists partitions the same way: two, both skipped
    // (no manifest, so both read fully dirty, but a threshold of 1
    // skips every partition)
    assert(graft.operators.Layout.maintain(spark, s"$root/parted", Seq("id"),
      bits = 2, filesPerPartition = 1, dirtyThreshold = 1.0) == ((0, 2)))
    // a retired copy whose live dir is gone is restored, then listed
    val fs = Store.fs(spark, root)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$root/customers"), true))
    assert(Store.subdirs(spark, root) == Seq("customers", "parted"))
    assert(spark.read.parquet(s"$root/customers").as[Long].collect().toSeq == Seq(9L))
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
