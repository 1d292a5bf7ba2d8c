package graft

import org.apache.spark.sql.functions._
import graft.llm.Dedup
import graft.store.Store
import graft.streaming.{BandStore, CorpusIngest}

/** The bucket-pruned banded dedup store: per-batch incremental dedup
  * must (a) give exactly the answers of the in-memory full-store form,
  * and (b) carry the O(batch) PLAN contract — the band-store scan is
  * partition-pruned to the batch's buckets, the signature-store verify
  * probe is pruned to the candidates' id buckets, and a batch whose
  * band buckets miss every store partition produces a plan with NO
  * store scan at all (the ReplayGuard contract, band-keyed). */
class BandedDedupSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val storeDocs = Seq(
    0L -> "the quick brown fox jumps over the lazy dog again and again today",
    1L -> "spark executors shuffle partitioned data across many wide stages",
    2L -> "sourdough fermentation depends on wild yeast and friendly lactobacilli")

  /** A store built the production way: one processBatch over storeDocs. */
  private def buildStore(root: String): (String, String) = {
    val corpusDir = s"$root/corpus"; val sigDir = s"$root/sigs"
    assert(CorpusIngest.processBatch(storeDocs.toDF("doc_id", "text"),
      corpusDir, sigDir, k = 3, numPerms = 32, bands = 16,
      minEstPpm = 400000L, nBuckets = 512) == 3L)
    (corpusDir, sigDir)
  }

  test("banded store path gives exactly the full-store dedup answers") {
    val (_, sigDir) = buildStore(tmpDir("banded_eq"))
    val batch = Seq(
      10L -> (storeDocs.head._2 + " extra"), // near-dup of stored 0 → drop
      11L -> "a wholly novel paragraph concerning alpine glaciers and slow valley carving",
      12L -> "a wholly novel paragraph concerning alpine glaciers and slow valley carving indeed", // near-dup of batchmate 11 → drop (min-id keeps 11)
      13L -> "market liquidity evaporates when volatility spikes suddenly overnight"
    ).toDF("doc_id", "text")
    val batchSigs = graft.llm.Stage(Dedup.minHashSignatures(batch, 3, 32))
    // reference semantics: the in-memory full-store form
    val expected = Dedup.dedupIncrementalSigs(batch, batchSigs,
        Dedup.minHashSignatures(storeDocs.toDF("doc_id", "text"), 3, 32),
        numPerms = 32, bands = 16, minEstPpm = 400000L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(expected == Seq(11L, 13L)) // the scenario exercises both drop kinds
    val kept = CorpusIngest.dedupAgainstStore(batch, batchSigs, sigDir,
        BandStore.dirOf(sigDir), minEstPpm = 400000L, maxBandDf = Long.MaxValue)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == expected)
  }

  test("store scans are bucket-pruned; a bucket-disjoint batch never scans the store") {
    val (_, sigDir) = buildStore(tmpDir("banded_plan"))
    val bandsDir = BandStore.dirOf(sigDir)

    // overlap case: a near-dup of stored doc 0 shares band buckets. The
    // pruning lives on the frames the dedup stages (staging then hides
    // them from the end plan), so assert it on those exact frames: the
    // band-store read prunes to the batch's buckets, and the verify's
    // signature probe prunes to the candidates' id buckets.
    val (nBuckets, numPerms, bands) = BandStore.meta(spark, bandsDir)
    val nearDup = Seq(50L -> (storeDocs.head._2 + " tail")).toDF("doc_id", "text")
    val sigs = graft.llm.Stage(Dedup.minHashSignatures(nearDup, 3, 32))
    val nb0 = graft.llm.Stage(
      Dedup.bandsFromSignatures(sigs, numPerms, bands)
        .filter(col("band_hash").isNotNull))
    val storeBands = BandStore.prunedFor(spark, bandsDir, nb0)
    assert(storeBands.isDefined, "a near-dup batch must hit store buckets")
    val pb = planOf(storeBands.get)
    assert(pb.contains(s"$bandsDir/data"), s"expected a band-store scan in: $pb")
    assert(pb.linesIterator.exists(l =>
      l.contains("PartitionFilters: [") && l.contains("bucket")
        && !l.contains("PartitionFilters: []")),
      s"the band-store read must partition-prune on bucket: $pb")
    val candOld = graft.llm.Stage(
      Dedup.crossSideCandidates(nb0, storeBands.get).distinct())
    assert(candOld.count() > 0)
    val verifyProbe = CorpusIngest.prunedVerifySigs(spark, sigDir, nBuckets, candOld, sigs)
    val ps = planOf(verifyProbe)
    assert(ps.linesIterator.exists(l => l.contains(sigDir) && !l.contains("_bands")),
      s"expected a signature-store verify scan in: $ps")
    assert(ps.linesIterator.exists(l =>
      l.contains("PartitionFilters: [") && l.contains("bucket")
        && !l.contains("PartitionFilters: []")),
      s"the verify probe must partition-prune on bucket: $ps")
    // and end to end the near-dup does drop
    val kept = CorpusIngest.dedupAgainstStore(nearDup, sigs, sigDir, bandsDir,
      minEstPpm = 400000L, maxBandDf = Long.MaxValue)
    assert(kept.count() == 0)

    // disjoint case: pick (deterministically, from a fixed pool) a doc
    // whose band buckets hit NO store partition — its plan must not
    // touch either store, and the doc is kept
    val fs = new org.apache.hadoop.fs.Path(bandsDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing = fs.listStatus(new org.apache.hadoop.fs.Path(s"$bandsDir/data"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .map(_.getPath.getName.stripPrefix("bucket=").toLong).toSet
    val probe = (0 until 40).iterator.map { i =>
      (100L + i, s"probe number $i with deliberately varied vocabulary item$i " +
        s"token${i * 7} filler${i * 13} material${i * 31} and trailing words $i")
    }.find { case (_, text) =>
      val one = Seq((0L, text)).toDF("doc_id", "text")
      val buckets = Dedup.bandsFromSignatures(
          Dedup.minHashSignatures(one, 3, 32), 32, 16)
        .select(pmod(col("band_hash"), lit(512L))).distinct()
        .collect().map(_.getLong(0)).toSet
      (buckets intersect existing).isEmpty
    }
    assert(probe.isDefined, "no bucket-disjoint probe found in a 40-doc pool — " +
      "regenerate the pool or raise nBuckets")
    val disjoint = Seq(probe.get).toDF("doc_id", "text")
    val kept2 = CorpusIngest.dedupAgainstStore(disjoint,
      graft.llm.Stage(Dedup.minHashSignatures(disjoint, 3, 32)),
      sigDir, bandsDir, minEstPpm = 400000L, maxBandDf = Long.MaxValue)
    val p2 = planOf(kept2)
    assert(!p2.contains(s"$bandsDir"),
      s"a bucket-disjoint batch must never scan the band store: $p2")
    assert(!p2.linesIterator.exists(l => l.contains(sigDir) && !l.contains("_bands")),
      s"a bucket-disjoint batch must never scan the signature store: $p2")
    assert(kept2.count() == 1)
  }

  test("band-store compaction leaves one file per bucket and preserves dedup") {
    val root = tmpDir("banded_compact")
    val corpusDir = s"$root/corpus"; val sigDir = s"$root/sigs"
    val texts = Seq(
      "quantum error correction requires redundant physical qubits always",
      "the ancient library held thousands of forgotten manuscripts inside",
      "alpine glaciers carve broad valleys over tens of slow millennia",
      "container orchestration schedules replicated pods across node pools",
      "tidal estuaries mix fresh river water with saline ocean currents",
      "volcanic soils grow uncommonly fragrant coffee at high elevation",
      "medieval guilds regulated apprenticeship terms across market towns",
      "migratory songbirds navigate by starlight and magnetic inclination",
      "fermented tea cultures trade microbes between sugar and tannin",
      "suspension bridges tune their deck stiffness against resonant wind")
    // tiny nBuckets so appends from different batches land in the SAME
    // buckets — the file swamp per bucket that compaction exists for
    texts.zipWithIndex.grouped(4).zipWithIndex.foreach { case (grp, b) =>
      val df = grp.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      assert(CorpusIngest.processBatch(df, corpusDir, sigDir,
        k = 3, numPerms = 32, bands = 16, minEstPpm = 400000L,
        batchId = b.toLong, nBuckets = 4) == grp.size.toLong)
    }
    val bandsDir = BandStore.dirOf(sigDir)
    val before = spark.read.parquet(s"$bandsDir/data")
      .orderBy("doc_id", "band").collect().toSeq
    val (nBefore, nAfter) = Store.compact(spark, BandStore.dataPath(bandsDir))
    assert(nBefore > nAfter, s"expected a file swamp to shrink: $nBefore -> $nAfter")
    val buckets = spark.read.parquet(s"$bandsDir/data")
      .select("bucket").distinct().count()
    assert(nAfter <= buckets, "compaction must leave <= one file per bucket")
    assert(spark.read.parquet(s"$bandsDir/data")
      .orderBy("doc_id", "band").collect().toSeq == before)
    // the signature store compacts bucket-aware too, and ingest keeps
    // rejecting near-dups off both compacted artifacts
    val (sBefore, sAfter) = Store.compact(spark, sigDir)
    assert(sBefore > sAfter)
    assert(CorpusIngest.processBatch(
      Seq(100L -> (texts.head + " postfix")).toDF("doc_id", "text"),
      corpusDir, sigDir, k = 3, numPerms = 32, bands = 16,
      minEstPpm = 400000L) == 0L)
    assert(CorpusIngest.processBatch(
      Seq(101L -> "an entirely fresh document arriving after both compactions ran")
        .toDF("doc_id", "text"),
      corpusDir, sigDir, k = 3, numPerms = 32, bands = 16,
      minEstPpm = 400000L) == 1L)
  }

  test("a banding-parameter change against an existing store fails loudly") {
    val root = tmpDir("banded_params")
    val corpusDir = s"$root/corpus"; val sigDir = s"$root/sigs"
    assert(CorpusIngest.processBatch(storeDocs.take(1).toDF("doc_id", "text"),
      corpusDir, sigDir, k = 3, numPerms = 32, bands = 16) == 1L)
    // stored band hashes were folded at 16 bands; a caller passing 8
    // would generate garbage candidates — the meta guard must refuse
    val e = intercept[IllegalArgumentException] {
      CorpusIngest.processBatch(
        Seq(99L -> "a follow-up batch sent with the wrong banding parameters")
          .toDF("doc_id", "text"),
        corpusDir, sigDir, k = 3, numPerms = 32, bands = 8)
    }
    assert(e.getMessage.contains("band store"))
  }

  test("a pre-band-store flat archive is restructured once on first touch") {
    val root = tmpDir("banded_migrate")
    val corpusDir = s"$root/corpus"; val sigDir = s"$root/sigs"
    // a legacy store: flat signature parquet, no band store beside it
    val legacy = storeDocs.toDF("doc_id", "text")
    Dedup.minHashSignatures(legacy, 3, 32)
      .write.parquet(sigDir)
    legacy.write.parquet(corpusDir)
    // first new-layout batch migrates, then near-dups of LEGACY docs drop
    assert(CorpusIngest.processBatch(
      Seq(10L -> (storeDocs.head._2 + " extra"),
          11L -> "genuinely new content that matches nothing in the legacy store")
        .toDF("doc_id", "text"),
      corpusDir, sigDir, k = 3, numPerms = 32, bands = 16,
      minEstPpm = 400000L, nBuckets = 128) == 1L)
    assert(BandStore.exists(spark, BandStore.dirOf(sigDir)))
    // the archive is now id-bucketed and complete (legacy + admitted)
    val sigs = spark.read.parquet(sigDir)
    assert(sigs.columns.contains("bucket"))
    assert(sigs.select("doc_id").as[Long].collect().toSet == Set(0L, 1L, 2L, 11L))
    // the banded table covers every archived doc
    assert(spark.read.parquet(s"${BandStore.dirOf(sigDir)}/data")
      .select("doc_id").distinct().as[Long].collect().toSet == Set(0L, 1L, 2L, 11L))
  }
}
