package graft

import org.apache.spark.sql.functions._
import graft.llm.Corpus
import graft.store.Store
import graft.streaming.Bm25Ingest

/** Maintained BM25 state: fold equality against the one-shot ranker,
  * replay no-ops, doc redelivery, and the crash windows of the
  * batch-subdir + versioned-globals commit protocol. */
class Bm25IngestSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark joins hash tables with broadcast hash join plans"),
    (2L, "stream processing over event windows and watermarks"),
    (3L, "vector search with quantized codes in a stream"),
    (4L, "hash partitioning and join reordering in the optimizer"),
    (5L, "window functions rank rows over partitions"),
    (6L, "a plain document about nothing in particular at all")
  ).toDF("doc_id", "text")
  private val queries = Seq(
    (1L, "join"), (1L, "hash"), (2L, "stream"), (2L, "window"))
    .toDF("query_id", "term")

  private def served(stateDir: String) =
    Bm25Ingest.serve(spark, stateDir, queries, k = 10).get
      .orderBy("query_id", "rnk").collect().toSeq

  test("maintained index equals one-shot bm25TopK for any batch split; replays and redeliveries are no-ops") {
    val stateDir = tmpDir("bm25") + "/state"
    val oneShot = Corpus.bm25TopK(docs, queries, k = 10)
      .orderBy("query_id", "rnk").collect().toSeq
    val b = (m: Long) => docs.filter(col("doc_id") % 3 === m)
    assert(Bm25Ingest.processBatch(b(0), stateDir, batchId = 0L) == 2L)
    assert(Bm25Ingest.processBatch(b(1), stateDir, batchId = 1L) == 2L)
    // full-batch replay with its own id: watermark rejects it
    assert(Bm25Ingest.processBatch(b(1), stateDir, batchId = 1L) == 0L)
    // doc redelivery under a NEW batch id: the doclen anti-join drops
    // the repeats, admits only the genuinely new docs
    assert(Bm25Ingest.processBatch(b(1).unionByName(b(2)), stateDir,
      batchId = 2L) == 2L)
    assert(served(stateDir) == oneShot,
      "maintained state must serve the exact one-shot ranking")
    // serving never touches the corpus: the inputs are state dirs only
    // (compile-time property of serve's signature); the globals snapshot
    // carries the exact corpus totals
    val g = spark.read.parquet(
      s"${Store.latestVersion(spark, stateDir).get._2}/globals").collect()
    assert(g.head.getLong(0) == 6L)
  }

  test("randomized batch splits with redeliveries converge to the one-shot ranking") {
    // property form of the split-equality contract: any partition of the
    // corpus into 1..4 batches, with a random batch redelivered under a
    // fresh id, serves the identical ranking. Seeded RNG — failures
    // reproduce.
    val rnd = new scala.util.Random(42)
    val oneShot = Corpus.bm25TopK(docs, queries, k = 10)
      .orderBy("query_id", "rnk").collect().toSeq
    for (trial <- 0 until 3) {
      val stateDir = tmpDir(s"bm25rand$trial") + "/state"
      val nB = 1 + rnd.nextInt(4)
      val assign = (0 until 6).map(_ => rnd.nextInt(nB))
      var id = 0L
      for (b <- 0 until nB) {
        val ids = assign.zipWithIndex.collect { case (bb, i) if bb == b => i + 1L }
        val batch = docs.filter(col("doc_id").isin(ids.map(_.asInstanceOf[Any]): _*))
        Bm25Ingest.processBatch(batch, stateDir, batchId = id); id += 1
        if (rnd.nextBoolean()) { // redeliver under a NEW id: must no-op
          assert(Bm25Ingest.processBatch(batch, stateDir, batchId = id) == 0L
            || ids.isEmpty)
          id += 1
        }
      }
      assert(served(stateDir) == oneShot, s"trial $trial (nB=$nB, $assign) diverged")
    }
  }

  test("reconcile deletes abandoned-batch postings orphans that would skew df/tf") {
    val stateDir = tmpDir("bm25rec") + "/state"
    assert(Bm25Ingest.processBatch(docs, stateDir, batchId = 0L) == 6L)
    val clean = served(stateDir)
    // an abandoned crashed batch: postings landed, doclen never did —
    // its rows are invisible to the freshness store but VISIBLE to
    // serving, so df/tf skew until repaired
    val orphan = Seq((9L, "join join join hash")).toDF("doc_id", "text")
    Bm25Ingest.postingsState(orphan, 64).repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$stateDir/postings/batch_id=7")
    assert(served(stateDir) != clean, "orphan must actually skew the ranking")
    assert(Bm25Ingest.reconcile(spark, stateDir) == Seq(7L))
    assert(served(stateDir) == clean, "reconcile must restore the ranking")
    // a healthy store reconciles to nothing; compact starts with the sweep
    assert(Bm25Ingest.reconcile(spark, stateDir).isEmpty)
    Bm25Ingest.postingsState(orphan, 64).repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$stateDir/postings/batch_id=8")
    val (_, _) = Bm25Ingest.compact(spark, stateDir)
    assert(served(stateDir) == clean, "compact must not bake orphans into batch 0")
  }

  test("hybrid retrieval entirely off maintained state: BM25 serve × index probe → RRF") {
    import graft.llm.Similarity
    import graft.streaming.VectorIngest
    // two maintained indexes over the same id space: the BM25 inverted
    // store over the texts, the vector store over aligned embeddings
    val root = tmpDir("hybrid")
    val bm25Dir = s"$root/bm25"; val annDir = s"$root/ann"
    val emb = docs.as[(Long, String)].collect().toSeq.map { case (id, t) =>
      // deterministic 4-d embedding from the text's bytes
      val bs = t.getBytes("UTF-8")
      (id, Array.tabulate(4)(d => bs.map(b => ((b & 0xFF) * (d + 1)) % 7).sum.toFloat + 1f))
    }.toDF("vec_id", "embedding")
    Bm25Ingest.processBatch(docs, bm25Dir, batchId = 0L)
    VectorIngest.trainCentroids(emb, annDir, kCells = 2, iters = 3, dim = 4)
    VectorIngest.processBatch(emb, annDir)
    // the service path: both rankings read ONLY their stores
    val lex = Bm25Ingest.serve(spark, bm25Dir, queries, k = 5).get
      .select("query_id", "doc_id", "rnk")
    val dense = VectorIngest.ann(spark, annDir,
        emb.filter(col("vec_id").isin(1L, 2L)), k = 5, nProbe = 2)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rnk"))
    val served = Similarity.rrfFuse(Seq(lex, dense), kConst = 60, topK = 5)
      .orderBy("query_id", "rnk").collect().toSeq
    // == the same fusion over one-shot rankings (full-probe ann is exact)
    val oneShot = Similarity.rrfFuse(Seq(
        Corpus.bm25TopK(docs, queries, k = 5).select("query_id", "doc_id", "rnk"),
        Similarity.bruteForceKnn(emb, emb.filter(col("vec_id").isin(1L, 2L)), k = 5)
          .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rnk"))),
      kConst = 60, topK = 5).orderBy("query_id", "rnk").collect().toSeq
    assert(served == oneShot,
      "maintained-store hybrid must equal the one-shot fusion")
  }

  test("compact rewrites the per-batch swamp; served ranking, replays and new batches intact") {
    val stateDir = tmpDir("bm25compact") + "/state"
    val b = (m: Long) => docs.filter(col("doc_id") % 3 === m)
    (0 to 2).foreach(i => Bm25Ingest.processBatch(b(i.toLong), stateDir, batchId = i.toLong))
    val before = served(stateDir)
    val (nB, nA) = Bm25Ingest.compact(spark, stateDir)
    assert(nA < nB, s"compaction must shrink the file count ($nB -> $nA)")
    assert(served(stateDir) == before, "compaction changed the served ranking")
    // a pre-compaction batch id replayed: its docs live in the compacted
    // tree, the anti-join drops them all — still a no-op
    assert(Bm25Ingest.processBatch(b(1L), stateDir, batchId = 3L) == 0L)
    // and genuinely new docs still fold
    val extra = Seq((7L, "a very late join and hash document"))
      .toDF("doc_id", "text")
    assert(Bm25Ingest.processBatch(extra, stateDir, batchId = 4L) == 1L)
    val full = Corpus.bm25TopK(docs.unionByName(extra), queries, k = 10)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(served(stateDir) == full)
    // crash mid-swap: postings retired, nothing published — the next
    // reader heals instead of serving an empty index
    import org.apache.hadoop.fs.Path
    val fs = new Path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(s"$stateDir/postings"),
      new Path(Store.retired(s"$stateDir/postings"))))
    assert(served(stateDir) == full, "mid-swap crash must heal on read")
  }

  test("structured-streaming driver folds file drops; restart replays as a no-op") {
    val root = tmpDir("bm25stream")
    val in = s"$root/in"; val stateDir = s"$root/state"; val cp = s"$root/cp"
    new java.io.File(in).mkdirs()
    def drop(name: String, rows: Seq[(Long, String)]): Unit = {
      val txt = rows.map { case (id, t) =>
        s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$in/$name"), txt)
    }
    val rows = docs.as[(Long, String)].collect().toSeq
    drop("a.jsonl", rows.take(3))
    val q1 = Bm25Ingest.start(spark, in, stateDir, cp)
    try q1.processAllAvailable() finally q1.stop()
    drop("b.jsonl", rows.drop(3))
    // restart from the checkpoint: a.jsonl must not re-fold
    val q2 = Bm25Ingest.start(spark, in, stateDir, cp)
    try q2.processAllAvailable() finally q2.stop()
    val oneShot = Corpus.bm25TopK(docs, queries, k = 10)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(served(stateDir) == oneShot,
      "streamed folds across a restart must serve the one-shot ranking")
    assert(spark.read.parquet(
      s"${Store.latestVersion(spark, stateDir).get._2}/globals")
      .head().getLong(0) == 6L, "restart double-counted a file drop")
  }

  test("crash windows replay to the same state (appends idempotent, globals watermark-gated)") {
    val stateDir = tmpDir("bm25crash") + "/state"
    val b0 = docs.filter(col("doc_id") <= 3); val b1 = docs.filter(col("doc_id") > 3)
    assert(Bm25Ingest.processBatch(b0, stateDir, batchId = 0L) == 3L)

    // crash window 1: postings landed, doclen + globals did not — a
    // replay must recompute the SAME fresh set (freshness excludes the
    // batch's own subdir) and land the full batch
    import org.apache.hadoop.fs.Path
    val fs = new Path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate: write batch 1's postings subdir only, as a crashed run would
    Bm25Ingest.postingsState(b1, 64).repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$stateDir/postings/batch_id=1")
    assert(Bm25Ingest.processBatch(b1, stateDir, batchId = 1L) == 3L,
      "partial postings from a crashed attempt must not shrink the replayed fresh set")
    val oneShot = Corpus.bm25TopK(docs, queries, k = 10)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(served(stateDir) == oneShot)

    // crash window 2: everything landed but the rename (staging left
    // behind) — the replay overwrites the staging and commits
    val staging = new Path(s"$stateDir/.staging_v2")
    fs.mkdirs(staging)
    val b2 = Seq((7L, "late join arrival with hash terms")).toDF("doc_id", "text")
    assert(Bm25Ingest.processBatch(b2, stateDir, batchId = 2L) == 1L)
    assert(!fs.exists(staging))
    assert(Store.latestVersion(spark, stateDir).get._1 == 2L)
    val full = Corpus.bm25TopK(docs.unionByName(b2), queries, k = 10)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(served(stateDir) == full)
  }
}
