package graft.store

import java.io.{DataInputStream, DataOutputStream, IOException}

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** The one crash-safe directory protocol behind every parquet store in
  * this engine — the sink tables ([[graft.operators.MergeSink]]), the
  * replay ledger, the band / signature / cell stores, the versioned
  * rollup and BM25 snapshots and the preference store. Every path goes
  * through Hadoop `FileSystem`, so `file:`, `hdfs:` and `s3a:` roots
  * behave like local ones (a `java.nio` existence test answers false for
  * any URI and silently turns a store into "absent").
  *
  * Crash-ordering contract, stated once for every store:
  *   - [[commit]] stages the new contents under a hidden sibling
  *     (`.<name>__stage`), retires the live dir to another
  *     (`.<name>__old`) by RENAME (never delete), moves the staged dir
  *     into place, then drops the retired copy. Both names start with a
  *     dot and sit in the live dir's own parent, so Spark's file index
  *     and every lister here skip them, and each rename stays inside one
  *     directory. Every crash window leaves a complete copy in the live
  *     dir or in the retired one, and a reader sees the old contents or
  *     the new, never a mix; [[heal]] restores the retired copy when the
  *     live dir is missing. Every read path here heals first ([[read]],
  *     [[compact]], [[evict]], [[subdirs]]), and [[commit]] REFUSES to
  *     publish while the retired copy is the only one: such a caller
  *     computed its write against a missing store (a merge would be
  *     batch-only), and finishing the swap would make the loss
  *     permanent.
  *   - Because the swap's names are hidden, a `col=value` subdirectory
  *     of a partitioned store commits the same way — a staged or
  *     retired copy is never discovered as a phantom partition. This is
  *     how per-batch state (`batch_id=N`) is written: heal, then
  *     [[commit]] the batch's subdirectory, so an at-least-once re-run
  *     of batch N replaces its own rows instead of adding to them.
  *   - [[append]] adds files to the live dir and is not atomic: a store
  *     that appends orders its appends so a crash leaves only state its
  *     own `reconcile` detects and clears (fail-closed — see
  *     [[graft.streaming.ReplayGuard]]).
  *   - [[writeMeta]] writes `path.tmp` and renames it into place:
  *     readers see the old bytes or the new ones, never a torn file.
  *   - [[publishVersion]] stages a snapshot under `.staging_v<N>` and
  *     publishes it with one rename to `v<N>`: the version number is
  *     the applied-batch watermark, so a batch and its watermark commit
  *     together.
  *   - [[compact]] and [[evict]] rewrite a whole store through
  *     [[commit]] and assume one writer per store: quiesce appends while
  *     they run.
  * On a transactional table format each of these is one metadata
  * commit; this is the plain-filesystem form with no silent-loss window.
  *
  * Spark jobs submitted from here carry the call site of the frame that
  * called into Store (see [[asCaller]]), so the UI, event logs and
  * per-layer traces keep naming the store that asked for the work. */
object Store {

  /** The Hadoop `FileSystem` that `path` resolves to. */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Existence through Hadoop, without healing. */
  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** Restore `path` from its retired copy when a [[commit]] died between
    * its two renames. No-op in every healthy state. */
  def heal(spark: SparkSession, path: String): Unit = healed(spark, path)

  /** [[heal]], then whether the live dir exists. */
  private def healed(spark: SparkSession, path: String): Boolean = {
    val f = fs(spark, path)
    val dst = new Path(path)
    if (f.exists(dst)) true
    else {
      val old = new Path(retired(path))
      if (f.exists(old) && !f.rename(old, dst))
        throw new IOException(s"swap heal rename failed: $old -> $dst")
      f.exists(dst)
    }
  }

  /** The store at `path` as a DataFrame, or None when it does not exist
    * — healed first. The schema is the Spark row schema stored in one
    * data file's footer, read on the driver: `spark.read.parquet` would
    * infer the same schema with a one-task Spark job. It is the STORED
    * schema, not a declared one, so columns only the store carries
    * survive a merge. Partition columns are discovered from the
    * directory names, as inference would. Files without the footer key
    * fall back to inference. */
  def read(spark: SparkSession, path: String): Option[DataFrame] =
    if (!healed(spark, path)) None
    else asCaller(spark)(Some(footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))))

  private def visible(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(spark, path)
    // the first data file: top level for a flat store, else down the
    // first `col=value` directory chain of a partitioned one
    def firstFile(dir: Path): Option[Path] = {
      val (files, dirs) = f.listStatus(dir).filter(visible).partition(_.isFile)
      files.map(_.getPath).minByOption(_.getName).orElse(
        dirs.map(_.getPath).filter(_.getName.contains("=")).sortBy(_.getName)
          .iterator.map(firstFile).collectFirst { case Some(p) => p })
    }
    firstFile(new Path(path)).flatMap { file =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")
        finally reader.close()
      Option(json).flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
        .collect { case s: StructType => s }
    }
  }

  /** Publish `df` as the whole content of `path` (stage, then swap). */
  def commit(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit =
    swap(df.sparkSession, path) { tmp =>
      val w = df.write.mode(SaveMode.Overwrite)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(tmp)
    }

  /** The swap under [[commit]], for a store whose content is several
    * directories: `stage` writes everything under the staging root it
    * is given, and one swap publishes all of it. A crashed attempt's
    * stage is cleared first, and the stage is dropped when `stage`
    * throws. */
  def swap(spark: SparkSession, path: String)(stage: String => Unit): Unit = {
    val f = fs(spark, path)
    val dst = new Path(path)
    val tmp = new Path(hidden(path, "__stage"))
    val old = new Path(retired(path))
    if (!f.exists(dst) && f.exists(old))
      throw new IllegalStateException(
        s"unhealed interrupted swap at $path ($old holds the only copy); " +
          "call Store.heal before computing the write")
    if (f.exists(tmp)) f.delete(tmp, true)
    try asCaller(spark)(stage(tmp.toString))
    catch { case e: Throwable => f.delete(tmp, true); throw e }
    if (f.exists(old)) f.delete(old, true) // prior completed swap's leftover
    if (f.exists(dst) && !f.rename(dst, old))
      throw new IOException(s"swap retire rename failed: $dst -> $old")
    if (!f.rename(tmp, dst))
      throw new IOException(s"swap publish rename failed: $tmp -> $dst")
    if (f.exists(old)) f.delete(old, true)
  }

  /** Where [[swap]] retires the live copy of `path` — the name a crash
    * between its two renames leaves behind. */
  private[graft] def retired(path: String): String = hidden(path, "__old")

  /** The dot-prefixed sibling `.<name><suffix>` of `path`. */
  private def hidden(path: String, suffix: String): String = {
    val p = new Path(path)
    new Path(p.getParent, s".${p.getName}$suffix").toString
  }

  /** The names of the visible subdirectories of `path` (none when it
    * does not exist), sorted — the stores or partitions under it, never
    * a swap's staged or retired copy. A child whose live dir a crash
    * left only in its retired copy is healed first, so it is listed. */
  private[graft] def subdirs(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    val dir = new Path(path)
    val Retired = """\.(.+)__old""".r
    def list() = if (f.exists(dir)) f.listStatus(dir).toSeq.filter(_.isDirectory) else Nil
    list().map(_.getPath.getName).foreach {
      case Retired(name) => heal(spark, new Path(dir, name).toString)
      case _ =>
    }
    list().filter(visible).map(_.getPath.getName).sorted
  }

  /** Append `df` partitioned by `partitionCol`, repartitioned by that
    * column first: without the shuffle every task writes a file into
    * every partition it holds (tasks x partitions tiny files per
    * append); with it each partition value lives in one task, so an
    * append adds at most one file per touched partition. The shuffle is
    * append-sized — the cheap side of the trade at any store size. */
  def append(df: DataFrame, path: String, partitionCol: String): Unit = {
    heal(df.sparkSession, path)
    asCaller(df.sparkSession)(df.repartition(col(partitionCol))
      .write.mode(SaveMode.Append).partitionBy(partitionCol).parquet(path))
  }

  /** Target file size of a compacted flat store. */
  private val CompactFileBytes = 128L * 1024 * 1024

  /** Small-file compaction: a partitioned store is rewritten one file
    * per partition, its layout (and so partition pruning) preserved; a
    * flat store is rewritten as ceil(bytes / 128 MiB) files. `rewrite`
    * may reshape the rows on the way (same columns). No-op on a store
    * that does not exist. Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, path: String,
              rewrite: DataFrame => DataFrame = identity): (Int, Int) =
    read(spark, path) match {
      case None => (0, 0)
      case Some(stored) =>
        val parts = partitionColumns(spark, path)
        val before = dataFiles(spark, path)
        val df = rewrite(stored)
        val n = math.max(1,
          math.ceil(before.map(_.getLen).sum.toDouble / CompactFileBytes).toInt)
        commit(if (parts.nonEmpty) df.repartition(parts.map(col): _*) else df.repartition(n),
          path, parts)
        (before.size, dataFiles(spark, path).size)
    }

  /** Remove the rows whose `key` is among `victims`' first column (a
    * whole-store rewrite, layout preserved). The directory is DELETED
    * when nothing survives: an empty partitioned write leaves no
    * schema-bearing file and every later read would die on inference. */
  def evict(spark: SparkSession, path: String, victims: DataFrame, key: String): Unit =
    read(spark, path).foreach { stored =>
      val keep = stored.join(victims.select(col(victims.columns.head).as(key)),
        Seq(key), "left_anti")
      if (asCaller(spark)(keep.isEmpty)) fs(spark, path).delete(new Path(path), true)
      else commit(keep, path, partitionColumns(spark, path))
    }

  /** The partition columns of the store at `path`, outermost first,
    * read off its first `col=value` directory chain. */
  private def partitionColumns(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    def chain(dir: Path): List[String] =
      f.listStatus(dir).filter(s => s.isDirectory && visible(s) &&
          s.getPath.getName.contains("="))
        .map(_.getPath).sortBy(_.getName).headOption match {
        case Some(p) => p.getName.takeWhile(_ != '=') :: chain(p)
        case None => Nil
      }
    chain(new Path(path))
  }

  /** Values of the top-level partition column `column` that exist on
    * disk — a driver-side listing of directory entries, never a scan. */
  def partitions(spark: SparkSession, path: String, column: String): Set[Long] = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) Set.empty
    else f.listStatus(p).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(column + "="))
      .map(_.getPath.getName.stripPrefix(column + "=").toLong).toSet
  }

  /** The parquet data files under `path` (none when it does not exist). */
  private def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val f = fs(spark, path)
    def walk(dir: Path): Seq[FileStatus] = f.listStatus(dir).toSeq.filter(visible)
      .flatMap(s => if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.endsWith(".parquet")) Seq(s) else Nil)
    if (f.exists(new Path(path))) walk(new Path(path)) else Nil
  }

  /** Write a small metadata file: `path.tmp`, then rename into place. */
  def writeMeta(spark: SparkSession, path: String)(write: DataOutputStream => Unit): Unit = {
    val f = fs(spark, path)
    val dst = new Path(path)
    val tmp = new Path(path + ".tmp")
    val out = new DataOutputStream(f.create(tmp, true))
    try write(out) finally out.close()
    if (f.exists(dst)) f.delete(dst, false)
    if (!f.rename(tmp, dst)) throw new IOException(s"meta commit failed: $dst")
  }

  /** Read a [[writeMeta]] file. */
  def readMeta[T](spark: SparkSession, path: String)(read: DataInputStream => T): T = {
    val in = new DataInputStream(fs(spark, path).open(new Path(path)))
    try read(in) finally in.close()
  }

  private def versions(spark: SparkSession, dir: String): Seq[(Long, String)] = {
    val f = fs(spark, dir)
    val root = new Path(dir)
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
      .map(s => (s.getPath.getName.drop(1).toLong, s.getPath.toString))
      .sortBy(_._1)
  }

  /** Latest published (version, path) snapshot under `dir`, if any. */
  def latestVersion(spark: SparkSession, dir: String): Option[(Long, String)] =
    versions(spark, dir).lastOption

  /** Publish snapshot `version` under `dir`: `stage` writes it under the
    * staging dir it is given (a crashed attempt's leftovers are cleared
    * first), one rename publishes it as `v<version>`, and all but the
    * newest `keep` snapshots are dropped. */
  def publishVersion(spark: SparkSession, dir: String, version: Long, keep: Int)
                    (stage: String => Unit): Unit = {
    val f = fs(spark, dir)
    val staging = new Path(s"$dir/.staging_v$version")
    if (f.exists(staging)) f.delete(staging, true)
    asCaller(spark)(stage(staging.toString))
    // rename reports failure as FALSE (dest exists, parent gone), not an
    // exception — ignoring it would drop the batch while its checkpoint
    // advances
    if (!f.rename(staging, new Path(s"$dir/v$version")))
      throw new IOException(s"snapshot commit rename failed: $staging -> $dir/v$version")
    versions(spark, dir).dropRight(keep).foreach { case (_, p) => f.delete(new Path(p), true) }
  }

  /** Runs `body` with Spark's call site set to the first frame outside
    * Store, Spark, Scala and the JDK — the line Spark itself would name
    * had the caller submitted the job. A call site the caller already
    * set is kept. */
  private def asCaller[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    if (sc.getLocalProperty("callSite.short") != null) body
    else Thread.currentThread.getStackTrace.find { f =>
      val c = f.getClassName
      !Seq("graft.store.", "org.apache.spark.", "scala.", "java.", "jdk.")
        .exists(c.startsWith) && f.getFileName != null
    } match {
      case None => body
      case Some(f) =>
        sc.setCallSite(s"${f.getMethodName} at ${f.getFileName}:${f.getLineNumber}")
        try body finally sc.clearCallSite()
    }
  }
}
