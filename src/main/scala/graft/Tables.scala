package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical loaders for the driver-generated testdata tables
  * (`/root/testdata/sf*`, see TESTDATA.md).
  *
  * All loads are plain parquet scans so Catalyst predicate pushdown /
  * column pruning apply ([[https://spark.apache.org]] `PushDownPredicates`,
  * `ColumnPruning`); callers should never cache these — at 100 TB the scan
  * with pruning IS the fast path.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  // Per-process schema cache for the fixed testdata tables: without an
  // explicit schema every `spark.read.parquet` pays a footer-inference
  // pass AT PLANNING TIME (ParquetFileFormat.inferSchema runs a
  // driver-visible job), once per query entry per bench pass — pure
  // launch overhead on a 201-entry inventory. One entry per dataset
  // path holds (mtime, schema): an in-place rewrite touches the dir,
  // so a changed mtime re-infers and REPLACES the entry (a stale schema
  // would surface missing columns as nulls). The mtime is the Hadoop
  // FileStatus's, so URI paths work too. One stat per read, no Spark
  // job. This caches SCHEMA ONLY, never data or results.
  private[graft] val schemaCache = scala.collection.concurrent.TrieMap
    .empty[String, (Long, org.apache.spark.sql.types.StructType)]

  private def readCached(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    // a missing path keeps Spark's own "path does not exist" error
    val mtime = try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
      catch { case _: java.io.FileNotFoundException => 0L }
    val schema = schemaCache.get(path) match {
      case Some((t, cached)) if t == mtime => cached
      case _ =>
        val inferred = spark.read.parquet(path).schema
        schemaCache.put(path, (mtime, inferred))
        inferred
    }
    spark.read.schema(schema).parquet(path)
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else readCached(spark, s"$dir/$name.parquet")

  /** `events.parquet` has shipped in two physical layouts across driver
    * generations, so the loader adapts on the footer schema and exposes a
    * STABLE logical schema either way:
    *   - `ts_ns`: exact epoch nanoseconds (matches DuckDB `epoch_ns(ts)`) —
    *     use this for ordering/joins so no precision is lost;
    *   - `ts`:    microsecond TimestampType for date/window logic.
    * Layouts: (a) INT64 TIMESTAMP(NANOS), which Spark's parquet reader
    * rejects outright (PARQUET_TYPE_ILLEGAL) — read nanos as a raw long
    * (`spark.sql.legacy.parquet.nanosAsLong`), `DIV 1000` in exact integer
    * arithmetic for µs; (b) native TIMESTAMP(MICROS) (read as NTZ) — cast
    * to TimestampType (exact under the session's UTC zone) and derive
    * `ts_ns` as `unix_micros × 1000`.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readCached(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }

  /** Register every table as a temp view (the "Postgres mirror" analog —
    * reference README.md:16-20 positions the mirror as a SQL analytics
    * surface; here the catalog + Spark SQL is that surface). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
