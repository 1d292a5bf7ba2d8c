package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.Store

/** Maintained BM25 retrieval state — the lexical-retrieval face of the
  * maintained-state family (q93/q96/q110/q142): every statistic BM25
  * needs is a mergeable count, so an unbounded document stream keeps a
  * query-independent index current and ranked retrieval serves off it
  * without ever rescanning the corpus.
  *
  * State under `stateDir`:
  *   - `postings/batch_id=<id>/bucket=<b>/` — (term, doc_id, tf), the
  *     inverted index, partitioned by `bucket = pmod(xxhash64(term),
  *     nBuckets)` so a query's terms prune the scan to their buckets
  *     (the [[CorpusIngest]] bucket discipline);
  *   - `doclen/batch_id=<id>/bucket=<b>/` — (doc_id, dl), bucketed by
  *     id hash so the freshness anti-join probes only the batch's
  *     buckets;
  *   - `v<id>/globals` — the 1-row (n_docs, t_tokens), a versioned
  *     snapshot ([[Store.publishVersion]]) whose version number IS the
  *     applied-batch watermark.
  *
  * Idempotence WITHOUT a fail-closed window: the per-batch appends are
  * OVERWRITES of the batch's own `batch_id=` subdir, and batch
  * freshness is decided against the store EXCLUDING that subdir — so a
  * replay of any crash window recomputes the identical fresh set and
  * rewrites the identical files, and the non-idempotent globals merge
  * is guarded by the version watermark. A doc_id redelivered in a LATER
  * batch is dropped by the same anti-join. Bm25IngestSpec drives the
  * fold-equality, replay and crash paths.
  */
object Bm25Ingest {

  private def postingsDir(stateDir: String) = s"$stateDir/postings"
  private def doclenDir(stateDir: String) = s"$stateDir/doclen"

  private def termBucket(nBuckets: Int) =
    pmod(xxhash64(col("term")), lit(nBuckets.toLong))
  private def idBucket(nBuckets: Int) =
    pmod(xxhash64(col("doc_id")), lit(nBuckets.toLong))

  /** Per-doc postings of one batch: (term, doc_id, tf, dl) + term
    * bucket. The doc length rides DENORMALIZED on every posting
    * (+8 bytes/row) — the standard inverted-index layout — so serving
    * never joins the doclen store: at corpus scale that join shuffles
    * one row per document ever indexed just to fetch a length the
    * posting can carry itself. dl is constant per doc, so grouping by
    * it costs nothing. */
  private[graft] def postingsState(docs: DataFrame, nBuckets: Int): DataFrame =
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", termBucket(nBuckets))

  private[graft] def doclenState(docs: DataFrame, nBuckets: Int): DataFrame =
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"))
      .withColumn("bucket", idBucket(nBuckets))

  private[graft] def globalsState(docs: DataFrame): DataFrame =
    // coalesce: sum over an empty batch is NULL, which would poison
    // every later merge (sum ignores nulls, but a first-batch null
    // t_tokens serves a null denominator)
    docs.select(count(lit(1)).as("n_docs"),
      coalesce(sum(size(split(col("text"), " ")).cast("long")), lit(0L))
        .as("t_tokens"))

  /** Globals fold: both statistics are plain sums. */
  private[graft] def mergeGlobals(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).agg(
      sum("n_docs").as("n_docs"), sum("t_tokens").as("t_tokens"))

  /** Fold one micro-batch of (doc_id, text) into the index. Returns the
    * number of newly indexed documents (0 for a full replay).
    * foreachBatch-compatible. */
  def processBatch(batch: DataFrame, stateDir: String, batchId: Long,
                   nBuckets: Int = 64, keepVersions: Int = 2): Long = {
    val spark = batch.sparkSession
    // heal BEFORE any read or append — an unhealed append would create
    // a fresh dir that blocks healing forever
    Store.heal(spark, postingsDir(stateDir))
    Store.heal(spark, doclenDir(stateDir))
    val latest = Store.latestVersion(spark, stateDir)
    if (latest.exists(_._1 >= batchId)) return 0L // fully applied replay

    val clean = batch.select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .dropDuplicates("doc_id")
    // freshness vs the store EXCLUDING this batch's own subdir — the
    // property that makes every crash-window replay recompute the same
    // fresh set no matter which appends landed. The probe prunes to the
    // batch's id buckets (driver-side bucket list, ≤ nBuckets values).
    val dlPath = doclenDir(stateDir)
    // the fresh count RIDES the staging materialization as an observed
    // metric (round 16) instead of costing its own count() job — on a
    // composed job-count-bound lifecycle (qs9) every per-batch job is
    // wall. Absent metric ≠ 0 (PropagateEmptyRelation can delete the
    // CollectMetrics node over a statically-empty batch — the
    // CorpusIngest caveat): fall back to an explicit count then.
    val obs = org.apache.spark.sql.Observation()
    val fresh = graft.llm.Stage(
      (if (!Store.exists(spark, dlPath)) clean
      else {
        val buckets = clean.select(idBucket(nBuckets).as("bucket"))
          .distinct().collect().map(_.getLong(0)).toIndexedSeq
        val prior = spark.read.parquet(dlPath)
          .filter(col("batch_id") =!= batchId &&
            col("bucket").isin(buckets.map(_.asInstanceOf[Any]): _*))
          .select("doc_id")
        clean.join(prior, Seq("doc_id"), "left_anti")
      }).observe(obs, count(lit(1)).as("n_fresh")))
    val n = obs.get.get("n_fresh").map(_.asInstanceOf[Long])
      .getOrElse(fresh.count())
    // idempotent appends: each commits THIS batch's subdir. An
    // all-replayed/empty batch writes NOTHING (a zero-row partitioned
    // write leaves a schema-less dir that breaks every later read) but
    // still commits its watermark below.
    if (n > 0) {
      val postings = s"${postingsDir(stateDir)}/batch_id=$batchId"
      val doclen = s"$dlPath/batch_id=$batchId"
      Seq(postings, doclen).foreach(Store.heal(spark, _))
      Store.commit(postingsState(fresh, nBuckets).repartition(col("bucket")),
        postings, Seq("bucket"))
      Store.commit(doclenState(fresh, nBuckets), doclen, Seq("bucket"))
    }
    // globals LAST: the snapshot is the batch's commit point and its
    // version number the replay watermark
    val merged = latest match {
      case Some((_, p)) =>
        mergeGlobals(spark.read.parquet(s"$p/globals"), globalsState(fresh))
      case None => globalsState(fresh)
    }
    Store.publishVersion(spark, stateDir, batchId, keepVersions)(staging =>
      merged.coalesce(1).write.parquet(s"$staging/globals"))
    n
  }

  /** Ranked retrieval off the maintained state ONLY — the corpus is
    * never touched: the postings scan prunes to the query terms'
    * buckets (literal IN over the partition column), df derives from
    * the pruned postings, doc lengths ride the posting rows (no doclen
    * join — the denormalized layout above), and the 1-row globals
    * broadcast back. Exactly [[graft.llm.Corpus.bm25TopK]]'s answer
    * over everything indexed so far (Bm25IngestSpec asserts equality
    * for any batch split). */
  def serve(spark: SparkSession, stateDir: String, queries: DataFrame,
            k: Int = 10, nBuckets: Int = 64): Option[DataFrame] =
    Store.latestVersion(spark, stateDir).map { case (_, p) =>
      Store.heal(spark, postingsDir(stateDir))
      val qterms = queries.select("term").distinct()
      val buckets = qterms.select(termBucket(nBuckets).as("bucket"))
        .distinct().collect().map(_.getLong(0)).toIndexedSeq
      // an index whose every committed batch was empty has no postings
      // dir yet — serve the (correct) empty ranking, not a read error
      val tfDl =
        if (!Store.exists(spark, postingsDir(stateDir)))
          queries.select(col("query_id").cast("long").as("doc_id"),
              col("term"), lit(0L).as("tf"), lit(0L).as("dl")).limit(0)
        else spark.read.parquet(postingsDir(stateDir))
          .filter(col("bucket").isin(buckets.map(_.asInstanceOf[Any]): _*))
          .join(broadcast(qterms), "term")
          .select("doc_id", "term", "tf", "dl")
      graft.llm.Corpus.bm25FromStatsDl(
        tfDl, spark.read.parquet(s"$p/globals"), queries, k)
    }

  /** Quiesced repair sweep — the crash-garbage case the per-batch
    * replay CANNOT fix: postings are written before doclen, so a batch
    * that crashed between the two and was then ABANDONED (checkpoint
    * deleted, stream re-keyed) leaves a postings subdir whose docs are
    * invisible to the freshness store — a later redelivery would admit
    * them again and double-count df/tf. A postings `batch_id=` subdir
    * with no doclen counterpart is exactly that orphan; delete it and
    * return the ids. Run before [[compact]] (compact calls it) — a
    * compaction would otherwise bake the orphans into batch 0. Assumes
    * quiesced ingest like every repair here. */
  def reconcile(spark: SparkSession, stateDir: String): Seq[Long] = {
    def batchIds(dir: String) = Store.partitions(spark, dir, "batch_id")
    val orphans =
      (batchIds(postingsDir(stateDir)) -- batchIds(doclenDir(stateDir)))
        .toSeq.sorted
    val fs = Store.fs(spark, stateDir)
    orphans.foreach { id =>
      fs.delete(new Path(s"${postingsDir(stateDir)}/batch_id=$id"), true) }
    orphans
  }

  /** Rewrite the per-batch append swamp into a single `batch_id=0` tree
    * per store ([[Store.compact]] with the batch ids collapsed). The
    * rewritten rows keep the partition columns readers rely on: the
    * freshness probe still filters `batch_id =!= current`, and a replay
    * of a pre-compaction batch id still no-ops — its docs are in the
    * compacted tree, so the anti-join yields nothing and nothing is
    * written. Returns (files before, files after). */
  def compact(spark: SparkSession, stateDir: String): (Int, Int) = {
    reconcile(spark, stateDir) // never bake crash orphans into batch 0
    val (pb, pa) = Store.compact(spark, postingsDir(stateDir),
      _.withColumn("batch_id", lit(0L)))
    val (db, da) = Store.compact(spark, doclenDir(stateDir),
      _.withColumn("batch_id", lit(0L)))
    (pb + db, pa + da)
  }

  /** Structured Streaming driver over a JSONL file-drop source of
    * (doc_id, text) — the same foreachBatch wiring as its sibling
    * ingests; checkpointed batch ids give the watermark its monotonic
    * contract across restarts. */
  def start(spark: SparkSession, inputDir: String, stateDir: String,
            checkpoint: String, nBuckets: Int = 64) = {
    import org.apache.spark.sql.types._
    spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .json(inputDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        processBatch(df, stateDir, batchId = id, nBuckets = nBuckets); ()
      }
      .start()
  }

  /** The pure state-fold form (no disk): score off explicitly merged
    * state tables — the oracle-replayable seam q152 checks against the
    * one-shot q108 arithmetic. `postings` carries dl ([[postingsState]]);
    * `doclen` stays in the signature as the store's other half but is
    * not consulted for scoring. */
  def serveFromState(postings: DataFrame, doclen: DataFrame,
                     globals: DataFrame, queries: DataFrame,
                     k: Int = 10): DataFrame =
    graft.llm.Corpus.bm25FromStatsDl(
      postings.join(broadcast(queries.select("term").distinct()), "term")
        .select("doc_id", "term", "tf", "dl"),
      globals, queries, k)
}
