package graft

import org.apache.spark.sql.functions._
import graft.store.Store
import graft.streaming.CorpusIngest

/** The streaming ingest-dedup loop, driven batch-by-batch the way
  * foreachBatch would: replays are dropped by id, near-dups by
  * signature, and the signature store accumulates only admitted docs. */
class CorpusIngestSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"

  test("ingest admits novel docs, drops replays and near-duplicates across batches") {
    val corpusDir = tmpDir("corpus") + "/docs"
    val sigDir = tmpDir("corpus") + "/sigs"
    def ingest(rows: (Long, String)*): Long =
      CorpusIngest.processBatch(rows.toDF("doc_id", "text"), corpusDir, sigDir,
        k = 3, numPerms = 32, bands = 16, minEstPpm = 400000L)

    // batch 1: two novel docs
    assert(ingest(0L -> base,
      1L -> "a first unique document about spark partitions and shuffles") == 2L)
    // batch 2: replay of 1 (same id) → id-dropped; near-dup of 0 → sig-dropped;
    // one novel doc admitted
    assert(ingest(
      1L -> "a first unique document about spark partitions and shuffles",
      2L -> (base + " extra"),
      3L -> "completely new material never seen in any earlier batch") == 1L)
    val corpus = spark.read.parquet(corpusDir).select("doc_id")
      .as[Long].collect().toSet
    assert(corpus == Set(0L, 1L, 3L))
    // store holds exactly the admitted docs' signatures
    val sigs = spark.read.parquet(sigDir).select("doc_id").as[Long].collect().toSet
    assert(sigs == Set(0L, 1L, 3L))
    // batch 3: replaying an admitted doc is a no-op (idempotent restart)
    assert(ingest(3L -> "completely new material never seen in any earlier batch") == 0L)
  }

  test("compact rewrites the append swamp into few files with identical data") {
    val corpusDir = tmpDir("corpus4") + "/docs"
    val sigDir = tmpDir("corpus4") + "/sigs"
    def ingest(rows: (Long, String)*): Long =
      CorpusIngest.processBatch(rows.toDF("doc_id", "text"), corpusDir, sigDir,
        k = 3, numPerms = 32, bands = 16, minEstPpm = 400000L)
    val texts = Seq(
      "spark executors shuffle partitioned data across wide stages",
      "the ancient library held thousands of forgotten manuscripts",
      "quantum error correction requires redundant physical qubits",
      "sourdough fermentation depends on wild yeast and lactobacilli",
      "alpine glaciers carve valleys over tens of millennia",
      "market liquidity evaporates when volatility spikes suddenly")
    texts.zipWithIndex.foreach { case (t, i) => assert(ingest(i.toLong -> t) == 1L) }
    val before = spark.read.parquet(corpusDir)
      .orderBy("doc_id").collect().toSeq
    val (nBefore, nAfter) = Store.compact(spark, corpusDir)
    assert(nBefore >= 6)        // one-plus file per append batch
    assert(nAfter == 1)         // tiny data → one target file
    val after = spark.read.parquet(corpusDir)
      .orderBy("doc_id").collect().toSeq
    assert(after == before)
    // the ingest loop keeps working against the compacted store
    assert(ingest(100L -> "a brand new document arriving after compaction ran") == 1L)
  }

  test("a swap interrupted between renames heals instead of emptying the store") {
    val corpusDir = tmpDir("corpus5") + "/docs"
    val sigDir = tmpDir("corpus5") + "/sigs"
    def ingest(rows: (Long, String)*): Long =
      CorpusIngest.processBatch(rows.toDF("doc_id", "text"), corpusDir, sigDir,
        k = 3, numPerms = 32, bands = 16, minEstPpm = 400000L)
    val doc = "a document whose readmission after a crashed compaction would corrupt the corpus"
    assert(ingest(1L -> doc) == 1L)
    // simulate the crash window inside Store.swap: the live dir has
    // been retired but the staged dir never moved in — the exact state
    // a kill between the two renames leaves behind
    import org.apache.hadoop.fs.Path
    val fs = new Path(sigDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(sigDir), new Path(Store.retired(sigDir))))
    // without healing, the ledger would look empty and the replay would
    // be re-admitted (permanent duplicate). processBatch must heal first.
    assert(ingest(1L -> doc) == 0L)
    assert(spark.read.parquet(sigDir).count() == 1L)
    // compact() heals the same state on its own path
    assert(fs.rename(new Path(corpusDir), new Path(Store.retired(corpusDir))))
    Store.compact(spark, corpusDir)
    assert(spark.read.parquet(corpusDir).select("doc_id")
      .as[Long].collect().toSeq == Seq(1L))
  }

  test("benchmark decontamination rejects contaminated docs at the door") {
    val corpusDir = tmpDir("corpus3") + "/docs"
    val sigDir = tmpDir("corpus3") + "/sigs"
    val bench = Seq(
      (900L, "held out evaluation question about the seven wonders of the ancient world"))
      .toDF("doc_id", "text")
    // doc 1 quotes an 8-token benchmark span verbatim; doc 2 is clean
    val n = CorpusIngest.processBatch(Seq(
        1L -> "contaminated doc copying evaluation question about the seven wonders of the ancient world here",
        2L -> "a perfectly clean training document with no benchmark overlap at all")
        .toDF("doc_id", "text"),
      corpusDir, sigDir, k = 3, numPerms = 32, bands = 16,
      minEstPpm = 400000L, benchmark = Some(bench))
    assert(n == 1L)
    assert(spark.read.parquet(corpusDir).select("doc_id").as[Long]
      .collect().toSeq == Seq(2L))
    // rejection left no ledger row: a cleaned-up re-send of id 1 admits
    val n2 = CorpusIngest.processBatch(
      Seq(1L -> "the same document rewritten without any quoted benchmark span inside")
        .toDF("doc_id", "text"),
      corpusDir, sigDir, k = 3, numPerms = 32, bands = 16,
      minEstPpm = 400000L, benchmark = Some(bench))
    assert(n2 == 1L)
  }

  test("short docs and intra-batch duplicates stay exactly-once via the admission ledger") {
    val corpusDir = tmpDir("corpus2") + "/docs"
    val sigDir = tmpDir("corpus2") + "/sigs"
    def ingest(rows: (Long, String)*): Long =
      CorpusIngest.processBatch(rows.toDF("doc_id", "text"), corpusDir, sigDir,
        k = 3, numPerms = 32, bands = 16, minEstPpm = 400000L)
    // doc 1 is too short to shingle (2 tokens < k=3); doc 2 arrives
    // twice in the same batch
    assert(ingest(1L -> "tiny doc",
      2L -> "a normal length document with plenty of tokens",
      2L -> "a normal length document with plenty of tokens") == 2L)
    // replay: the ledger row (null signature) blocks re-admission of the
    // short doc; the duplicate id was collapsed in-batch
    assert(ingest(1L -> "tiny doc") == 0L)
    val corpus = spark.read.parquet(corpusDir).select("doc_id")
      .as[Long].collect().toSeq.sorted
    assert(corpus == Seq(1L, 2L))
    // ledger carries BOTH ids; the short doc's h-columns are null
    val ledger = spark.read.parquet(sigDir)
    assert(ledger.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(ledger.filter(col("doc_id") === 1L).select("h0").head().isNullAt(0))
  }

  test("processBatchWithAdmitted returns the admitted-ever slice across replays") {
    val corpusDir = tmpDir("corpus_adm") + "/docs"
    val sigDir = tmpDir("corpus_adm") + "/sigs"
    def ingest(id: Long, rows: (Long, String)*): (Long, Set[Long]) = {
      val (n, adm) = CorpusIngest.processBatchWithAdmitted(
        rows.toDF("doc_id", "text"), corpusDir, sigDir, batchId = id)
      (n, adm.select("doc_id").as[Long].collect().toSet)
    }
    // batch 1: both novel → both admitted now, both admitted-ever
    assert(ingest(0L, 0L -> base,
      1L -> "a first unique document about spark partitions and shuffles")
      == (2L, Set(0L, 1L)))
    // batch 2: replay of 1 (admitted EARLIER → in the slice), a
    // near-dup of 0 (sig-dropped, NOT ledgered → excluded), one novel
    val (n2, adm2) = ingest(1L,
      1L -> "a first unique document about spark partitions and shuffles",
      2L -> (base + " extra"),
      3L -> "completely new material never seen in any earlier batch")
    assert(n2 == 1L && adm2 == Set(1L, 3L))
    // batch 3: full redelivery → zero fresh admissions, every id in the
    // slice (the composed driver's heal/redelivery contract)
    val (n3, adm3) = ingest(2L, 0L -> base,
      1L -> "a first unique document about spark partitions and shuffles",
      3L -> "completely new material never seen in any earlier batch")
    assert(n3 == 0L && adm3 == Set(0L, 1L, 3L))
  }

  test("null-id/null-text rows quarantine; corrected re-sends are admitted") {
    val root = tmpDir("cingest_q")
    val corpusDir = s"$root/corpus"; val sigDir = s"$root/sigs"
    val good = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val bad = Seq((2L, null.asInstanceOf[String])).toDF("doc_id", "text")
      .union(Seq(
        (null.asInstanceOf[java.lang.Long], "orphan text row"),
        (null.asInstanceOf[java.lang.Long], "second orphan, also audited"))
        .toDF("doc_id", "text"))
    assert(CorpusIngest.processBatch(good.union(bad), corpusDir, sigDir,
      batchId = 1L) == 1L)

    val q = spark.read.parquet(s"${sigDir}_quarantine")
      .select("doc_id", "reason").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1)))
    assert(q.length == 3) // validation precedes the id dedup
    assert(q.count(_ == (-1L, "doc_id_null")) == 2)
    assert(q.contains((2L, "text_null")))
    assert(spark.read.parquet(corpusDir).count() == 1L)
    // redelivery of the batch overwrites, never duplicates, the audit
    assert(CorpusIngest.processBatch(good.union(bad), corpusDir, sigDir,
      batchId = 1L) == 0L)
    assert(spark.read.parquet(s"${sigDir}_quarantine").count() == 3L)

    // id 2 was never ledgered: the corrected re-send is admitted once
    val fixed = Seq((2L, "totally different content for doc two here now"))
      .toDF("doc_id", "text")
    assert(CorpusIngest.processBatch(fixed, corpusDir, sigDir) == 1L)
    assert(CorpusIngest.processBatch(fixed, corpusDir, sigDir) == 0L)
  }

  test("quality gate quarantines repetitive docs; cleaned re-send admitted") {
    val root = tmpDir("cingest_qg")
    val corpusDir = s"$root/corpus"; val sigDir = s"$root/sigs"
    val gate = Some(graft.llm.TextAnalysis.repetitionGate(col("text")))
    val looping = "spam ham " * 20 + "spam ham"     // top2 share ≈ 1e6
    val batch = Seq(
      // 12 distinct tokens → top2 share 2e6/12 ≈ 167k ppm < 200k: passes
      (1L, "a perfectly ordinary document with many varied distinct tokens kept well inside"),
      (2L, looping),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    assert(CorpusIngest.processBatch(batch, corpusDir, sigDir,
      batchId = 7L, qualityPred = gate) == 1L)
    val q = spark.read.parquet(s"${sigDir}_quarantine")
      .select("doc_id", "reason").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1))).toSet
    // malformed-ness outranks quality in the reason; the looping doc is
    // 'quality'; the good doc is admitted and never audited
    assert(q == Set((2L, "quality"), (3L, "text_null")))
    assert(spark.read.parquet(corpusDir).select("doc_id")
      .as[Long].collect().toSeq == Seq(1L))
    // the rejected id was never ledgered: a cleaned-up re-send is
    // admitted (same contract as malformed rows)
    val fixed = Seq((2L,
      "the cleaned replacement text now carries plenty of varied distinct words instead"))
      .toDF("doc_id", "text")
    assert(CorpusIngest.processBatch(fixed, corpusDir, sigDir,
      qualityPred = gate) == 1L)
    // ...and only once
    assert(CorpusIngest.processBatch(fixed, corpusDir, sigDir,
      qualityPred = gate) == 0L)
    // a clean batch with the gate ON writes no quarantine subdir for it
    val q2 = spark.read.parquet(s"${sigDir}_quarantine")
    assert(q2.count() == 2L)

    // an ALL-rejected batch still audits: the statically-empty survivor
    // plan loses its CollectMetrics node to the optimizer, and the
    // absent-metric fallback probe must catch it rather than reading
    // "no metric" as "no bad rows"
    val allBad = Seq((8L, looping), (9L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(CorpusIngest.processBatch(allBad, corpusDir, sigDir,
      batchId = 9L, qualityPred = gate) == 0L)
    val q3 = spark.read.parquet(s"${sigDir}_quarantine")
      .filter(col("doc_id") === 8L).select("reason").collect()
    assert(q3.map(_.getString(0)).toSeq == Seq("quality"))
  }

  test("multimodal verdict composes as the quality gate: failing assets quarantine as 'quality'") {
    import graft.llm.Multimodal
    val root = tmpDir("cingest_mm")
    val corpusDir = s"$root/corpus"; val sigDir = s"$root/sigs"
    val batch = Seq(
      (1L, "The quick brown fox jumps over the lazy dog 0123456789"),
      (2L, "x"),      // undecodable: payload shorter than the header
      (3L, "a" * 40)  // near-constant content: entropy gate trips
    ).toDF("doc_id", "text")
    // the composition seam: verdict joined on, then gated at the door
    val withVerdict = Multimodal.attachQualityVerdict(batch)
    assert(CorpusIngest.processBatch(withVerdict, corpusDir, sigDir,
      batchId = 3L, qualityPred = Some(col("mm_pass") === 1)) == 1L)
    assert(spark.read.parquet(corpusDir).select("doc_id")
      .as[Long].collect().toSeq == Seq(1L))
    val q = spark.read.parquet(s"${sigDir}_quarantine")
      .select("doc_id", "reason").as[(Long, String)].collect().toSet
    assert(q == Set((2L, "quality"), (3L, "quality")))
    // rejects were never ledgered: the corrected (decodable, varied)
    // re-send of the same ids is admitted — exactly once
    // (header chars chosen so the stub decodes sane dims: 'T','h' → 76×72)
    val fixed = Seq(
      (2L, "The real payload now carries plenty of distinct varied content"),
      (3L, "Their replacement text holds many different words and letters too"))
      .toDF("doc_id", "text")
    assert(CorpusIngest.processBatch(Multimodal.attachQualityVerdict(fixed),
      corpusDir, sigDir, batchId = 4L,
      qualityPred = Some(col("mm_pass") === 1)) == 2L)
    assert(CorpusIngest.processBatch(Multimodal.attachQualityVerdict(fixed),
      corpusDir, sigDir, batchId = 5L,
      qualityPred = Some(col("mm_pass") === 1)) == 0L)
  }

  test("caption agreement verdict composes as the quality gate: the disagreeing pair quarantines as 'quality'") {
    import graft.llm.Multimodal
    val root = tmpDir("cingest_agree")
    val corpusDir = s"$root/corpus"; val sigDir = s"$root/sigs"
    // maintained thresholds (lang, thr_ppm) — at serving time these come
    // off folded histogram state; here a fixed calibration sits between
    // the matched (~0.9997) and mismatched (~0.687) cosines
    val thresholds = Seq(("aa", 900000L)).toDF("lang", "thr_ppm")
    val batch = Seq(
      (1L, "aa", "ab" * 20),                 // caption ∝ image: agrees
      (2L, "aa", "ab" * 10 + "ce" * 10),     // halves disagree: drops
      (3L, "aa", "cd" * 20)                  // a different agreeing pair
    ).toDF("doc_id", "lang", "text")
    val withVerdict = Multimodal.attachAgreementVerdict(batch, thresholds)
    assert(CorpusIngest.processBatch(withVerdict, corpusDir, sigDir,
      batchId = 11L, qualityPred = Some(col("agree_pass") === 1)) == 2L)
    assert(spark.read.parquet(corpusDir).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 3L))
    val q = spark.read.parquet(s"${sigDir}_quarantine")
      .select("doc_id", "reason").as[(Long, String)].collect().toSet
    assert(q == Set((2L, "quality")))
    // the reject was never ledgered: a re-captioned (agreeing) re-send
    // of the same id is admitted — the door contract
    val fixed = Seq((2L, "aa", "ef" * 20)).toDF("doc_id", "lang", "text")
    assert(CorpusIngest.processBatch(
      Multimodal.attachAgreementVerdict(fixed, thresholds),
      corpusDir, sigDir, batchId = 12L,
      qualityPred = Some(col("agree_pass") === 1)) == 1L)
  }

  test("maintained sample equals the one-shot sample of everything admitted; crash repair lands on the same rows") {
    val root = tmpDir("corpus_smp")
    val corpusDir = s"$root/docs"; val sigDir = s"$root/sigs"
    val sampleDir = s"$root/sample"
    def doc(i: Long) = i -> s"document number $i with uniquely arranged tokens t$i u$i v$i w$i x$i"
    def ingest(rows: Seq[(Long, String)]): Long =
      CorpusIngest.processBatch(rows.toDF("doc_id", "text"), corpusDir, sigDir,
        sampleDir = Some(sampleDir), sampleN = 6)
    assert(ingest((0L until 10L).map(doc)) == 10L)
    assert(ingest((10L until 25L).map(doc)) == 15L)
    // a full replay changes nothing — guard drops it before the sample
    assert(ingest((0L until 10L).map(doc)) == 0L)
    val maintained = spark.read.parquet(sampleDir)
      .as[(Long, Long)].collect().toSet
    assert(maintained.size == 6)
    // the DETERMINISM dividend: the maintained sample IS the one-shot
    // sample over the stored corpus — not merely "a" uniform sample
    val oneShot = graft.operators.IncrementalAgg.sampleState(
        spark.read.parquet(corpusDir).select("doc_id"), "doc_id", 6)
      .as[(Long, Long)].collect().toSet
    assert(maintained == oneShot, s"$maintained != $oneShot")
    // crash window repair: delete the sample (corpus appended, sample
    // write missed), rebuild from the corpus — same rows again
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(sampleDir))
    assert(CorpusIngest.rebuildSample(spark, corpusDir, sampleDir, 6) == 6L)
    assert(spark.read.parquet(sampleDir).as[(Long, Long)].collect().toSet == oneShot)
  }

  test("a file: URI sample store keeps merging across batches") {
    val root = tmpDir("corpus_smp_uri")
    val corpusDir = s"$root/docs"; val sigDir = s"$root/sigs"
    def doc(i: Long) = i -> s"document number $i with uniquely arranged tokens t$i u$i v$i w$i x$i"
    def ingest(rows: Seq[(Long, String)]): Long =
      CorpusIngest.processBatch(rows.toDF("doc_id", "text"), corpusDir, sigDir,
        sampleDir = Some(s"file:$root/sample"), sampleN = 6)
    assert(ingest((0L until 10L).map(doc)) == 10L)
    assert(ingest((10L until 25L).map(doc)) == 15L)
    CorpusIngest.rebuildSample(spark, corpusDir, s"$root/rebuilt", 6)
    assert(spark.read.parquet(s"file:$root/sample").as[(Long, Long)].collect().toSet ==
      spark.read.parquet(s"$root/rebuilt").as[(Long, Long)].collect().toSet)
  }
}
