package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.QuantileRank
import graft.store.Store

/** Multi-column clustered (Z-order) parquet layout — the second half of
  * the storage-access-path story started by [[Bucketing]].
  *
  * The reference serves point and range lookups through per-column
  * btree indexes (`packages/sync-engine/src/database/migrations/
  * 0016_add_invoice_indexes.sql:1-2`, `0035_checkout_sessions.sql:66-70`
  * — FK indexes on `customer`, `invoice`, `subscription`). Parquet has
  * no secondary indexes; the lake-native equivalent is file-level
  * min/max skipping, which only helps for columns the data is CLUSTERED
  * on. Sorting by one key gives skipping on that key alone; interleaving
  * the bits of several keys' quantile ranks (a Morton / Z-order curve)
  * gives useful min/max locality on EVERY interleaved column at once —
  * one layout serving several single-column access paths, exactly what
  * the reference's several btrees provide.
  *
  * At 100 TB the scan saving is the whole game: a predicate on the
  * second clustering column prunes ~(1 - 2^-b) of files under Z-order
  * (b = matching rank-prefix bits) versus reading EVERY file under a
  * single-key sort (LayoutSpec proves the gap on real files). Ranks come
  * from `approxQuantile` so skewed columns still fill their 2^bits
  * buckets evenly; the only driver-side state is (2^bits - 1) doubles
  * per column.
  */
object Layout {

  /** Morton z-value of `cols` (long-castable, each already in
    * [0, 2^bits)): bit j of column c lands at result bit
    * j*n + (n-1-c) — columns interleaved MSB-first, earlier columns in
    * the higher bit of each group. Composed purely from codegen'd
    * builtin expressions (shift/and/sum), so it rides whole-stage
    * codegen with no custom kernel. */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    require(n >= 1 && bits >= 1 && n * bits <= 63,
      s"zValue: need 1 <= n*bits <= 63, got n=$n bits=$bits")
    val longs = cols.map(_.cast("long"))
    val terms =
      for (j <- 0 until bits; c <- 0 until n)
        yield shiftleft(shiftrightunsigned(longs(c), j).bitwiseAND(lit(1L)),
          j * n + (n - 1 - c))
    terms.reduce(_ + _)
  }

  /** Quantile-rank boundaries for each of `cols`: the 2^bits - 1
    * interior cut points per column, ALL columns in one scan
    * (approxQuantile's multi-column form — at 100 TB the boundary pass
    * is a full-table read, so it must not repeat per column).
    * Driver-side state is (2^bits - 1) doubles per column. */
  def rankBoundaries(df: DataFrame, cols: Seq[String], bits: Int,
                     relativeError: Double = 0.001): Seq[Array[Double]] = {
    val nb = 1 << bits
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    df.stat.approxQuantile(cols.toArray, probs, relativeError)
      .map(_.distinct.sorted).toSeq
  }

  /** z-value over quantile RANKS of `cols` — the production form: each
    * column is first bucketed into 2^bits near-equal-frequency buckets
    * (native binary-search [[QuantileRank]]), so skew in raw values
    * can't collapse the curve onto a few prefixes. */
  def zValueRanked(df: DataFrame, cols: Seq[String], bits: Int): Column =
    zValue(cols.zip(rankBoundaries(df, cols, bits)).map { case (c, bounds) =>
      // an all-null column (or empty input) yields NO quantile
      // boundaries — the column carries no ordering signal, so it
      // contributes a constant rank instead of crashing QuantileRank's
      // nonEmpty require mid-maintenance
      if (bounds.isEmpty) lit(0L)
      else QuantileRank.quantile_rank(col(c).cast("double"), bounds).cast("long")
    }, bits)

  /** Write `df` as `numFiles` parquet files clustered on the Z-order
    * curve of `cols`: range-partition by z (so each file owns a
    * contiguous curve segment) and sort within partitions (so row-group
    * min/max stay tight inside each file). The helper column never
    * reaches the files. */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    bits: Int = 8, numFiles: Int = 32): Unit =
    df.withColumn("__z", zValueRanked(df, cols, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Single-key clustered write — the baseline layout Z-order is
    * measured against; right when there is exactly one access path. */
  def writeSorted(df: DataFrame, path: String, key: String,
                  numFiles: Int = 32): Unit =
    df.repartitionByRange(numFiles, col(key))
      .sortWithinPartitions(key)
      .write.mode("overwrite").parquet(path)

  // ---------------------------------------------------------------------
  // Incremental maintenance over a Hive-partitioned clustered table
  // (root/<partCol>=<value>/...). One-shot clustering decays as appends
  // land raw files inside partitions; at 100 TB a full re-cluster per
  // maintenance tick is a full-table rewrite, so the job must touch ONLY
  // partitions whose new-file fraction crossed a threshold — the shape of
  // every lakehouse OPTIMIZE/compaction scheduler. Clustered files are
  // tracked per partition in a `_graft_layout/` manifest (underscore dir:
  // invisible to Spark's file index); "dirty" needs no file renames or
  // listing diffs, just set difference against the manifest.
  // ---------------------------------------------------------------------

  private def manifestPath(root: String, partDir: String) =
    new Path(s"$root/_graft_layout/$partDir")

  private def dataFiles(fs: FileSystem, dir: Path): Seq[String] =
    fs.listStatus(dir).iterator
      .filter(_.isFile).map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSeq

  private def readManifest(fs: FileSystem, p: Path): Set[String] =
    if (!fs.exists(p)) Set.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in).getLines().toSet
      finally in.close()
    }

  private def writeManifest(spark: SparkSession, p: Path, files: Seq[String]): Unit =
    Store.writeMeta(spark, p.toString)(
      _.write(files.sorted.mkString("\n").getBytes("UTF-8")))

  /** Initial clustered layout of a Hive-partitioned table: ONE write
    * range-partitioned on (partCol, file-prefix-of-z) — rows sharing a
    * (partition, z-prefix) can never straddle tasks, so every partition
    * dir's files align EXACTLY to curve prefixes (a sampled range on raw
    * z instead lets files straddle prefix boundaries, and each straddle
    * costs one extra file per pruned predicate). `fileBits` sets the
    * prefix granularity: ~2^fileBits files per partition. Per-partition
    * manifests then record which files are clustered. */
  def writeZOrderedPartitioned(df: DataFrame, root: String, partCol: String,
                               cols: Seq[String], bits: Int = 8,
                               numFiles: Int = 32, fileBits: Int = 4): Unit = {
    // a negative shift is MASKED by shiftrightunsigned (mod 64), which
    // silently collapses every row into file-prefix 0 — one unaligned
    // file per partition with no error; maintain() has the analogous
    // guard, this entry point needs its own
    require(fileBits >= 1 && fileBits <= cols.size * bits,
      s"fileBits must be in [1, n*bits]: fileBits=$fileBits n=${cols.size} bits=$bits")
    val shift = cols.size * bits - fileBits
    df.withColumn("__z", zValueRanked(df, cols, bits))
      .withColumn("__f", shiftrightunsigned(col("__z"), shift))
      .repartitionByRange(numFiles, col(partCol), col("__f"))
      .sortWithinPartitions(partCol, "__z")
      .drop("__f", "__z")
      .write.mode("overwrite").partitionBy(partCol).parquet(root)
    val fs = Store.fs(df.sparkSession, root)
    partitionDirs(df.sparkSession, root).foreach { pd =>
      writeManifest(df.sparkSession, manifestPath(root, pd), dataFiles(fs, new Path(root, pd)))
    }
  }

  /** Raw append into the partitioned table — the decay path maintenance
    * exists for. Appended files are absent from the manifests, which is
    * exactly what marks their partitions dirty. */
  def appendRaw(df: DataFrame, root: String, partCol: String): Unit =
    df.write.mode("append").partitionBy(partCol).parquet(root)

  /** The `col=value` directory names under `root`. */
  private def partitionDirs(spark: SparkSession, root: String): Seq[String] =
    Store.subdirs(spark, root).filter(_.contains("="))

  /** Thrown from a partition's stage step when files landed in it after
    * its listing; [[maintain]] counts the partition as skipped. */
  private final class AppendedDuringMaintain extends RuntimeException

  /** Incremental Z-order maintenance: re-cluster ONLY partitions whose
    * fraction of non-manifest (appended-since-last-cluster) files
    * exceeds `dirtyThreshold`; clean partitions are never opened, let
    * alone rewritten. Each dirty partition is compacted + re-sorted into
    * `filesPerPartition` z-clustered files and committed by
    * [[Store.swap]] on its own directory, whose hidden staged and
    * retired names are never discovered as partitions. A crash between
    * swap and manifest write just makes the partition look fully dirty,
    * so the next tick re-clusters it again — idempotent, never lossy.
    * Returns (reclustered, skipped). */
  def maintain(spark: SparkSession, root: String,
               cols: Seq[String], bits: Int = 8, filesPerPartition: Int = 16,
               dirtyThreshold: Double = 0.2): (Int, Int) = {
    val fs = Store.fs(spark, root)
    var re = 0
    var skipped = 0
    partitionDirs(spark, root).foreach { name =>
      val pd = new Path(root, name)
      val files = dataFiles(fs, pd)
      val clustered = readManifest(fs, manifestPath(root, name))
      val fresh = files.count(f => !clustered.contains(f))
      if (files.isEmpty || fresh.toDouble / files.size <= dirtyThreshold) skipped += 1
      else {
        require(Integer.bitCount(filesPerPartition) == 1 &&
          filesPerPartition <= (1 << (cols.size * bits)),
          s"filesPerPartition must be a power of two <= 2^(n*bits)")
        val part = spark.read.parquet(pd.toString)
        // file id = top log2(n) bits of z, range-partitioned on that id
        // alone: every row of one file id lands in one task, so file
        // min/max ranges align EXACTLY to curve prefixes — a sampled
        // range on raw z instead lets files straddle prefix boundaries
        // and each straddle costs one extra file per pruned predicate
        val shift = cols.size * bits - Integer.numberOfTrailingZeros(filesPerPartition)
        try {
          Store.swap(spark, pd.toString) { stage =>
            part.withColumn("__z", zValueRanked(part, cols, bits))
              .withColumn("__f", shiftrightunsigned(col("__z"), shift))
              .repartitionByRange(filesPerPartition, col("__f"))
              .sortWithinPartitions("__z")
              .drop("__f", "__z")
              .write.parquet(stage)
            // CONCURRENT-APPEND GUARD: a file landed by appendRaw after
            // the read's listing snapshot would be retired with the rest
            // of the partition and deleted — permanent row loss. Re-list
            // as the last step before the retire: if anything appeared,
            // skip this partition (it is now dirtier; the next tick redoes
            // it). Like every compactor here, STRICT safety still requires
            // quiescing appends to the partitions being maintained — this
            // check closes the window from job-length to milliseconds.
            if (dataFiles(fs, pd).toSet != files.toSet) throw new AppendedDuringMaintain
          }
          writeManifest(spark, manifestPath(root, name), dataFiles(fs, pd))
          re += 1
        } catch { case _: AppendedDuringMaintain => skipped += 1 }
      }
    }
    (re, skipped)
  }
}
