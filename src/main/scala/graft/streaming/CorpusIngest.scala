package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.llm.Dedup
import graft.store.Store

/** Streaming corpus ingest with incremental dedup — the LLM-pipeline
  * counterpart of [[WebhookPipeline]]: an unbounded stream of documents
  * is folded into a training corpus while near-duplicates are dropped
  * at the door.
  *
  * The persistent artifacts are the MinHash SIGNATURE STORE (a parquet
  * dir of doc_id, h0..h{numPerms-1}) and the [[ReplayGuard]] admission
  * ledger beside it: per micro-batch,
  *   1. replayed doc_ids are dropped by the guard (at-least-once
  *      delivery → at-most-once admission per id) — bloom-prefiltered
  *      and id-bucketed, so the replay check costs O(batch), never
  *      O(everything ever admitted) (the earlier form anti-joined each
  *      batch against the full store's doc_ids);
  *   2. [[Dedup.dedupIncremental]] drops batch docs near-duplicating
  *      the store or an earlier batchmate — cost scales with the batch
  *      plus the signature store, corpus TEXT is never re-read;
  *   3. the guard records the admitted ids, survivors' signatures
  *      append to the store, then the documents to the corpus dir.
  * The appends are not one transaction on plain parquet; ledger and
  * store are written FIRST (fail-closed): a crash between them leaves a
  * doc ledgered but absent from the corpus, so the replay guard drops
  * it — the corpus never holds a duplicate row. (The opposite order
  * would re-admit on replay: at-least-once duplicates downstream would
  * have to absorb.) [[reconcile]] detects those orphans and can evict
  * them so a corrected re-send is admitted. On a transactional table
  * format all appends join one commit and the pipeline is exactly-once
  * with no drop window.
  */
object CorpusIngest {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  // defaults shared by [[processBatch]] and [[processBatchWithAdmitted]]
  private val DefaultK = 3
  private val DefaultNumPerms = 32
  private val DefaultBands = 8
  private val DefaultMinEstPpm = 500000L
  private val DefaultDecontamK = 8
  private val DefaultMaxBenchShared = 0L
  private val DefaultNBuckets = 64
  private val DefaultSampleN = 1024

  /** One micro-batch: returns the number of admitted documents.
    * foreachBatch-compatible.
    *
    * The [[ReplayGuard]] at `<sigDir>_guard` is the ADMISSION LEDGER:
    * every admitted doc_id is recorded, including documents too short
    * to shingle — without the ledger row a short doc would be
    * re-admitted on every at-least-once replay. (Their signature rows
    * still land in the store with NULL h-columns: null band hashes
    * never equi-join, so they contribute no dedup candidates, and the
    * store stays a complete signature archive of the corpus.) A store
    * created before the guard existed is migrated on first touch — a
    * one-time O(store) seed. Duplicate ids within one batch are
    * collapsed first (replayed lines are byte-identical, so which row
    * survives is immaterial).
    *
    * SCALE SHAPE of the dedup (the [[BandStore]] design): candidate
    * generation joins the batch's bands against the persisted banded
    * table pruned to the batch's band-hash buckets, and the signature
    * verify probes the id-bucketed signature store pruned to the
    * candidates' id buckets — per-batch cost is O(batch + touched
    * buckets), never O(everything ever admitted). The signature store
    * is therefore PARTITIONED by `bucket = pmod(xxhash64(doc_id),
    * nBuckets)`; a flat pre-band-store layout is restructured once on
    * first touch (with the banded table derived in the same pass).
    * `nBuckets` only matters on that first call — afterwards the band
    * store's meta governs, and (numPerms, bands) must match it.
    *
    * Production knobs:
    *   - `maxBandDf` caps any one (band, band_hash) bucket across
    *     store + batch ([[Dedup.dedupIncrementalSigs]]) — the store is
    *     deduped by construction, but families of just-below-threshold
    *     documents can still pile into shared buckets over months of
    *     ingest; the cap bounds that tail. Defaults to
    *     [[Dedup.CorpusDerivedCap]] (≈0.1% of batch + touched-store
    *     docs, floor 128) — the scale-safe default; Long.MaxValue is
    *     the explicit exactness opt-out.
    *   - `benchmark` (doc_id, text) enables DECONTAMINATION AT THE
    *     DOOR: batch docs sharing more than `maxBenchShared` distinct
    *     `decontamK`-gram shingles with the benchmark set are rejected
    *     before dedup — cheaper than scrubbing the corpus later, and
    *     the rejection leaves no ledger row, so a cleaned-up re-send of
    *     the same doc_id can be admitted.
    *   - `qualityPred` gates admission ON QUALITY at the door (e.g.
    *     [[graft.llm.TextAnalysis.repetitionGate]]): a boolean Column
    *     evaluated per row over the FULL batch row (any caller-provided
    *     column, e.g. a pre-joined multimodal verdict from
    *     [[graft.llm.Multimodal.attachQualityVerdict]]) alongside the
    *     well-formedness flags — a narrow expression, no extra job.
    *     Rejected rows quarantine with reason 'quality' and are NOT
    *     ledgered, so a cleaned-up re-send of the id is admitted (the
    *     same contract as malformed rows and benchmark contamination). */
  def processBatch(batch: DataFrame, corpusDir: String, sigDir: String,
                   k: Int = DefaultK, numPerms: Int = DefaultNumPerms,
                   bands: Int = DefaultBands,
                   minEstPpm: Long = DefaultMinEstPpm,
                   maxBandDf: Long = Dedup.CorpusDerivedCap,
                   benchmark: Option[DataFrame] = None,
                   decontamK: Int = DefaultDecontamK,
                   maxBenchShared: Long = DefaultMaxBenchShared,
                   batchId: Long = 0L, nBuckets: Int = DefaultNBuckets,
                   qualityPred: Option[Column] = None,
                   sampleDir: Option[String] = None,
                   sampleN: Int = DefaultSampleN): Long =
    processBatchCore(batch, corpusDir, sigDir, k, numPerms, bands,
      minEstPpm, maxBandDf, benchmark, decontamK, maxBenchShared, batchId,
      nBuckets, qualityPred, sampleDir, sampleN, wantAdmittedEver = false)._1

  /** [[processBatch]] additionally returning the batch's ADMITTED-EVER
    * slice — (doc_id, text) rows of the batch whose id is in the
    * admission ledger after this call: ids admitted by EARLIER batches
    * (the replay/heal case) plus this call's own admissions. This is
    * the frame a composing multi-store driver (qs9) feeds its
    * downstream stores; computing it HERE reuses the batch's staged
    * frames and the guard probe already paid for admission, where the
    * composer's former shape paid a second full [[ReplayGuard
    * .filterFresh]] pass over the batch (two more driver collects +
    * sidecar loads) and then re-executed that lazy anti-join once per
    * downstream consumer. The returned frame is STAGED (one extra
    * batch-sized job), so consumers replay cached blocks, and it is
    * materialized BEFORE the ledger append so its guard view is the
    * consistent pre-record one. */
  def processBatchWithAdmitted(batch: DataFrame, corpusDir: String,
                               sigDir: String, batchId: Long,
                               nBuckets: Int = DefaultNBuckets): (Long, DataFrame) = {
    val (n, adm) = processBatchCore(batch, corpusDir, sigDir,
      k = DefaultK, numPerms = DefaultNumPerms, bands = DefaultBands,
      minEstPpm = DefaultMinEstPpm, maxBandDf = Dedup.CorpusDerivedCap,
      benchmark = None, decontamK = DefaultDecontamK,
      maxBenchShared = DefaultMaxBenchShared, batchId = batchId,
      nBuckets = nBuckets, qualityPred = None, sampleDir = None,
      sampleN = DefaultSampleN, wantAdmittedEver = true)
    (n, adm.get)
  }

  private def processBatchCore(batch: DataFrame, corpusDir: String,
                   sigDir: String,
                   k: Int, numPerms: Int, bands: Int,
                   minEstPpm: Long,
                   maxBandDf: Long,
                   benchmark: Option[DataFrame],
                   decontamK: Int, maxBenchShared: Long,
                   batchId: Long, nBuckets: Int,
                   qualityPred: Option[Column],
                   sampleDir: Option[String],
                   sampleN: Int,
                   wantAdmittedEver: Boolean): (Long, Option[DataFrame]) = {
    val spark = batch.sparkSession
    // healed before the exists probes: an unhealed dedup store would
    // look empty and re-admit everything it ever rejected
    Store.heal(spark, sigDir)
    Store.heal(spark, corpusDir)
    val guardDir = guardPath(sigDir)
    if (!ReplayGuard.exists(spark, guardDir)) {
      // guard bucket count FOLLOWS the signature store's: one pruning
      // granularity across the co-maintained artifacts, and 4x fewer
      // sidecar files + ledger partition dirs than the 256 default —
      // per-batch sidecar I/O and compaction are file-count-bound
      ReplayGuard.bootstrap(spark, guardDir, nBuckets = nBuckets)
      if (Store.exists(spark, sigDir)) // migrate a pre-guard store
        ReplayGuard.record(
          spark.read.parquet(sigDir).select("doc_id"), "doc_id", guardDir)
    }
    val bandsDir = BandStore.dirOf(sigDir)
    if (!BandStore.exists(spark, bandsDir)) {
      BandStore.bootstrap(spark, bandsDir, nBuckets, numPerms, bands)
      if (Store.exists(spark, sigDir)) {
        // one-time layout migration of a pre-band-store archive: bucket
        // the signature store by id hash, then derive and persist its
        // bands — the last store-wide band hash this pipeline ever runs
        val flat = spark.read.parquet(sigDir)
        if (!flat.columns.contains("bucket"))
          Store.commit(
            flat.withColumn("bucket", sigBucket(nBuckets))
              .repartition(col("bucket")), sigDir, partitionBy = Seq("bucket"))
        BandStore.append(Dedup.bandsFromSignatures(
          spark.read.parquet(sigDir), numPerms, bands), bandsDir)
      }
    } else {
      val (_, mPerms, mBands) = BandStore.meta(spark, bandsDir)
      require(mPerms == numPerms && mBands == bands,
        s"band store $bandsDir was built with (numPerms=$mPerms, bands=$mBands); " +
          s"caller passed ($numPerms, $bands) — stored band hashes would be garbage")
    }
    // INPUT VALIDATION with an audit trail (the VectorIngest pattern
    // and its discipline): validate BEFORE dropDuplicates so every
    // malformed row is audited (and so the row-wise validity flag
    // splits identically on every re-evaluation — no staging needed),
    // and OVERWRITE the batch_id quarantine subdir so at-least-once
    // re-runs are idempotent. A null doc_id would vanish silently inside the
    // guard's bloom probe; a null text would flow a junk row into the
    // corpus store with NULL signatures. Invalid rows are NOT ledgered,
    // so a corrected re-send is admitted, never a "replay". A text
    // prefix rides along so a null-id row stays auditable — (null,
    // 'doc_id_null') alone is an unidentifiable husk.
    val wellFormed = col("doc_id").isNotNull && col("text").isNotNull
    // the quality gate rides the same per-row projection: expressions
    // null-propagate on malformed rows, so coalesce(..., false) is safe
    // and precedence in the quarantine reason stays with the
    // malformed-ness (a null-text row is 'text_null', never 'quality')
    val qPass = qualityPred.getOrElse(lit(true))
    // the invalid-row existence check rides the guard's touched-bucket
    // collect (the batch's first action) as an observed metric instead
    // of costing its own limit(1).count() job (the VectorIngest pattern).
    // The quality predicate is evaluated over the FULL batch row before
    // the (doc_id, text) projection, so a caller-joined verdict column
    // (e.g. [[graft.llm.Multimodal.attachQualityVerdict]]'s mm_pass)
    // composes as a qualityPred without widening the store schema.
    val obs = org.apache.spark.sql.Observation()
    val flagged = batch
      .withColumn("__ok", coalesce(wellFormed, lit(false)))
      .withColumn("__q", coalesce(qPass, lit(false)))
      .select(col("doc_id"), col("text"), col("__ok"), col("__q"))
      .observe(obs, count(when(!col("__ok") || !col("__q"), lit(1))).as("n_bad"))
    // ONE staged batch frame shared by every per-batch consumer: the
    // guard probe re-references the batch ~4x (touched-bucket collect,
    // the bloom's definitely-new/probable-hit splits, the ledger
    // anti-join), and the shingle pass + final keep anti-join read it
    // again — unstaged, each action re-ran the source scan and the
    // validation projection. The quarantine metric rides this
    // materialization (observe sits below it), so a clean batch still
    // pays zero extra jobs for the audit.
    val cleanBatch = graft.llm.Stage(
      flagged.filter(col("__ok") && col("__q")).select("doc_id", "text")
        .dropDuplicates("doc_id"))
    val dedupedIds = ReplayGuard.filterFresh(cleanBatch, "doc_id", guardDir)
    // the metric can come back ABSENT, not 0: if every row is filtered
    // and the source folds to an empty LocalRelation (test batches;
    // defensively, any statically-empty plan), PropagateEmptyRelation
    // deletes the CollectMetrics node and obs.get returns an empty map
    // — which must NOT read as "no bad rows" (the opposite is likelier:
    // everything was rejected). Fall back to an explicit probe then.
    val nBad = obs.get.get("n_bad").map(_.asInstanceOf[Long]).getOrElse(
      flagged.filter(!col("__ok") || !col("__q")).limit(1).count())
    if (nBad > 0) {
      val quarantine = s"${sigDir}_quarantine/batch_id=$batchId"
      Store.heal(spark, quarantine)
      Store.commit(flagged.filter(!col("__ok") || !col("__q")).select(col("doc_id"),
          when(col("doc_id").isNull, "doc_id_null")
            .when(col("text").isNull, "text_null")
            .otherwise("quality").as("reason"),
          substring(col("text"), 1, 256).as("text_prefix")),
        quarantine)
    }
    val fresh = benchmark match {
      case Some(b) =>
        val contaminated = graft.llm.Corpus.decontaminate(dedupedIds, b, decontamK)
          .filter(col("n_shared") > maxBenchShared).select("doc_id")
        dedupedIds.join(contaminated, Seq("doc_id"), "left_anti")
      case None => dedupedIds
    }
    // ONE shingle+min pass per batch: the signatures feed the dedup AND
    // the ledger append below (round-4 cost: dedupIncremental computed
    // them internally and the ledger recomputed them for admitted docs).
    // The signature count RIDES the staging job as an observed metric
    // (round 16): the derived-cap path needed it as a separate count()
    // job per batch — pure launch wall on composed lifecycles. Absent
    // metric ≠ 0 (PropagateEmptyRelation; see the n_bad caveat above).
    val sigObs = org.apache.spark.sql.Observation()
    val freshSigs = graft.llm.Stage(Dedup.minHashSignatures(fresh, k, numPerms)
      .observe(sigObs, count(lit(1)).as("n_sigs")))
    val kept = dedupAgainstStore(fresh, freshSigs, sigDir, bandsDir,
      minEstPpm, maxBandDf,
      sigCount = () => sigObs.get.get("n_sigs").map(_.asInstanceOf[Long])
        .getOrElse(freshSigs.count()))
    // Admission must be decided before the appends (kept is read
    // several times): one small batch-sized materialization.
    val admitted = graft.llm.Stage(kept)
    // admitted-ever slice for a composing caller, staged BEFORE the
    // ledger append below changes what filterFresh's lazy anti-join
    // would see: rows of the clean batch already in the guard (the
    // batch minus its fresh slice) plus this call's admissions
    val admittedEver =
      if (!wantAdmittedEver) None
      else Some(graft.llm.Stage(
        cleanBatch.join(dedupedIds.select("doc_id"), Seq("doc_id"), "left_anti")
          .unionByName(admitted.select("doc_id", "text"))))
    // ledger FIRST (fail-closed — see class doc); the admitted count
    // rides the guard's count+bloom aggregate
    val n = ReplayGuard.record(admitted.select("doc_id"), "doc_id", guardDir)
    if (n > 0) {
      // signature rows for ALL admitted ids, short docs carrying NULL
      // h-columns — the store stays the corpus's signature archive
      appendAdmitted(
        admitted.select("doc_id").join(freshSigs, Seq("doc_id"), "left_outer"),
        sigDir)
      admitted.write.mode(SaveMode.Append).parquet(corpusDir)
      // maintained uniform sample, LAST (an auxiliary view of the
      // corpus): merge the admitted ids into the persisted top-n-by-
      // hash-rank state ([[graft.operators.IncrementalAgg.sampleState]]
      // — deterministic, so the maintained sample EQUALS the one-shot
      // sample of everything admitted, any batch split). O(batch + n)
      // per batch. Crash window: corpus appended, sample not — repair
      // with [[rebuildSample]] (a one-shot recompute off the corpus,
      // which lands on the SAME rows by determinism).
      sampleDir.foreach { sd =>
        val st = graft.operators.IncrementalAgg.sampleState(
          admitted.select("doc_id"), "doc_id", sampleN)
        val merged = Store.read(spark, sd).fold(st)(stored =>
          graft.operators.IncrementalAgg.mergeSamples("doc_id", sampleN, None,
            stored, st))
        Store.commit(merged, sd)
      }
    }
    (n, admittedEver)
  }

  /** One-shot rebuild of the maintained sample off the corpus dir —
    * the repair for the appended-corpus/missed-sample crash window
    * (and the migration for a store that predates the sample). Lands
    * on the SAME rows the incremental path maintains, by determinism. */
  def rebuildSample(spark: SparkSession, corpusDir: String, sampleDir: String,
                    sampleN: Int = DefaultSampleN): Long = {
    Store.heal(spark, sampleDir)
    val sample = graft.operators.IncrementalAgg.sampleState(
      spark.read.parquet(corpusDir).select("doc_id"), "doc_id", sampleN)
    Store.commit(sample, sampleDir)
    spark.read.parquet(sampleDir).count()
  }

  private def sigBucket(nBuckets: Int) =
    pmod(xxhash64(col("doc_id")), lit(nBuckets.toLong))

  /** The batch-vs-store dedup decision, bucket-pruned on BOTH persisted
    * artifacts (the O(batch) replacement for
    * [[Dedup.dedupIncrementalSigs]] over a full store read):
    *
    *   1. candidates — the batch's bands join the [[BandStore]] pruned
    *      to the batch's band-hash buckets; no bucket overlap (first
    *      batch included) means NO store scan in the plan at all;
    *   2. verify — cross-store candidates' id buckets (collected
    *      driver-side, batch-bounded) prune the signature-store probe
    *      the same way; a candidate whose signature row is missing
    *      (the bands-written-sigs-lost crash window) clears fail-open,
    *      which is correct because that doc never reached the corpus.
    *
    * Within-batch duplicate groups keep their min id (greedy policy),
    * exactly [[Dedup.dedupIncrementalSigs]]' semantics — BandedDedupSpec
    * asserts result equality against it. Package-visible so the spec
    * can assert the plan contract directly. */
  private[graft] def dedupAgainstStore(fresh: DataFrame, freshSigs: DataFrame,
                                       sigDir: String, bandsDir: String,
                                       minEstPpm: Long,
                                       maxBandDf: Long,
                                       sigCount: () => Long = null): DataFrame = {
    val spark = fresh.sparkSession
    // batch signature count: an observed metric riding the caller's
    // staging job when provided, else an explicit count over the
    // (staged) frame — identical value either way
    def nSigs: Long = if (sigCount == null) freshSigs.count() else sigCount()
    val (nBuckets, numPerms, bands) = BandStore.meta(spark, bandsDir)
    // referenced by the self-join, the store join and the bucket collect
    // — but NOT checkpointed: `freshSigs` arrives staged, so every
    // re-reference replays only a narrow projection+explode over
    // in-memory blocks (its former Stage was one more job per batch
    // buying nothing)
    val nb0 = Dedup.bandsFromSignatures(freshSigs, numPerms, bands)
      .filter(col("band_hash").isNotNull)
    BandStore.prunedFor(spark, bandsDir, nb0) match {
      case None => // no store overlap: within-batch dedup only
        val cap = if (maxBandDf == Dedup.CorpusDerivedCap)
          Dedup.deriveCap(nSigs) else maxBandDf
        val (nb, _) = Dedup.capJointBuckets(nb0, nb0.limit(0), cap)
        val cand = Dedup.withinBatchCandidates(nb).distinct()
        val drop = Dedup.sigAgreementDrops(cand, freshSigs, freshSigs,
          numPerms, minEstPpm)
        fresh.join(drop, Seq("doc_id"), "left_anti")
      case Some(storeBands) =>
        // derived cap spans the JOINT local population of this band
        // join: batch docs + touched-store band rows (÷ bands ≈ docs).
        // Both frames are staged/pruned — the counts are O(batch +
        // touched buckets), never a store scan.
        val cap = if (maxBandDf == Dedup.CorpusDerivedCap)
          Dedup.deriveCap(nSigs + storeBands.count() / bands)
          else maxBandDf
        val (nb, eb) = Dedup.capJointBuckets(nb0, storeBands, cap)
        // staged: feeds the id-bucket collect AND the verify join
        val candOld = graft.llm.Stage(
          Dedup.crossSideCandidates(nb, eb).distinct())
        val otherSigs = prunedVerifySigs(spark, sigDir, nBuckets,
          candOld, freshSigs)
        val cand = candOld.union(Dedup.withinBatchCandidates(nb)).distinct()
        val drop = Dedup.sigAgreementDrops(cand, freshSigs, otherSigs,
          numPerms, minEstPpm)
        fresh.join(drop, Seq("doc_id"), "left_anti")
    }
  }

  /** The verify-side signature probe: cross-store candidates' id buckets
    * (collected driver-side — pass a staged `candOld`, it is batch-
    * bounded) prune the signature-store read; batchmates probe the
    * in-memory batch signatures via the union. Package-visible so the
    * spec can assert the pruning on the exact frame the verify joins
    * (the staged candidate frame hides it from the end plan). */
  private[graft] def prunedVerifySigs(spark: SparkSession, sigDir: String,
                                      nBuckets: Int, candOld: DataFrame,
                                      freshSigs: DataFrame): DataFrame = {
    val idBuckets = candOld
      .select(pmod(xxhash64(col("other_id")), lit(nBuckets.toLong)).as("b"))
      .distinct().collect().map(_.getLong(0)).sorted
    val sigCols = freshSigs.columns.toIndexedSeq.map(col)
    if (idBuckets.isEmpty) freshSigs
    else spark.read.parquet(sigDir)
      .filter(col("bucket").isin(idBuckets.map(_.asInstanceOf[Any]): _*))
      .select(sigCols: _*)
      .unionByName(freshSigs)
  }

  /** Post-ledger admission append of bands + id-bucketed signatures.
    * A crash that lands one store without the other is fail-open in
    * BOTH directions: bands whose signature rows are missing clear the
    * verify fail-open (correct — the doc never reached the corpus, and
    * [[reconcile]] evicts the debris), and signatures without bands are
    * invisible to candidate generation with the same outcome. Because
    * neither order is safer, the two appends run CONCURRENTLY. `sigs`
    * must be [[Dedup.minHashSignatures]]-shaped; public so crash-window
    * tests can reproduce the exact on-disk state a mid-append kill
    * leaves. */
  def appendAdmitted(sigs: DataFrame, sigDir: String): Unit = {
    val spark = sigs.sparkSession
    val bandsDir = BandStore.dirOf(sigDir)
    val (nBuckets, numPerms, bands) = BandStore.meta(spark, bandsDir)
    // the two appends SUBMIT CONCURRENTLY (guide §2.6): both derive
    // from the staged `sigs`, they write disjoint stores, and — per the
    // ordering note above — a crash that lands one without the other is
    // fail-open in EITHER direction, so the sequential ordering bought
    // no safety, only a second write-job tail per micro-batch
    graft.operators.Concurrently.run(Seq(
      () => BandStore.append(
        Dedup.bandsFromSignatures(sigs, numPerms, bands), bandsDir),
      () => Store.append(sigs.withColumn("bucket", sigBucket(nBuckets)),
        sigDir, "bucket")))
  }

  /** The admission-ledger location beside a signature store — PUBLIC so
    * maintenance callers (bench lifecycles, ops jobs) compact the SAME
    * dir the ingest guards with instead of restating the suffix (a
    * drifted restatement would "compact" a nonexistent dir: silent
    * (0, 0) and a lifecycle phase that measures nothing). */
  def guardDirOf(sigDir: String): String = s"${sigDir}_guard"

  private def guardPath(sigDir: String): String = guardDirOf(sigDir)

  /** Ledgered-but-unstored doc_ids — admitted to the guard (and possibly
    * the band + signature stores) but absent from the corpus: the
    * fail-closed crash window, during which a re-send of those ids is
    * silently dropped. `evict = true` clears them from the guard ledger
    * AND both dedup artifacts (all must go: a surviving signature row
    * would reject the re-send as a near-duplicate of itself; a stray
    * band row would keep generating dead candidates), so a corrected
    * re-send is admitted. Run from maintenance, like [[Store.compact]]. */
  def reconcile(spark: SparkSession, corpusDir: String, sigDir: String,
                evict: Boolean = false): Seq[Long] = {
    val guardDir = guardPath(sigDir)
    val corpusIds = Store.read(spark, corpusDir).map(_.select("doc_id"))
      .getOrElse {
        import spark.implicits._
        spark.emptyDataset[Long].toDF("doc_id")
      }
    // staged ONLY when evicting (round 16): the eviction branch mutates
    // the stores the lazy orphan frame reads, so there it must
    // materialize first — but the read-only sweep (evict = false, the
    // qs4 lifecycle's call) consumed the Stage job for nothing; the
    // final collect is the frame's one consumer then
    val orphans0 = ReplayGuard.orphans(spark, guardDir, corpusIds, "doc_id")
    val orphans = if (evict) graft.llm.Stage(orphans0) else orphans0
    if (evict) {
      // dedup artifacts first: once the guard row is gone the id is
      // re-admittable, so every earlier state must already be clean
      // (a crash between the evictions leaves the guard row, which
      // keeps the id rejected until the next reconcile finishes the job)
      val bandsDir = BandStore.dirOf(sigDir)
      if (BandStore.exists(spark, bandsDir))
        BandStore.evict(spark, bandsDir, orphans, "doc_id")
      // a legacy flat archive reconciled before its first new-layout
      // batch is rewritten as it lies (Store.evict keeps the layout)
      Store.evict(spark, sigDir, orphans, "doc_id")
      ReplayGuard.evict(spark, guardDir, orphans, "doc_id")
    }
    orphans.collect().map(_.getLong(0)).sorted.toSeq
  }

  /** Structured Streaming driver: file-drop source of JSON documents
    * ({"doc_id": …, "text": …} per line). */
  def start(spark: SparkSession, inputDir: String, corpusDir: String,
            sigDir: String, checkpoint: String,
            qualityPred: Option[Column] = None) = {
    spark.readStream
      .schema(docSchema)
      .json(inputDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        processBatch(df, corpusDir, sigDir, batchId = id,
          qualityPred = qualityPred); ()
      }
      .start()
  }
}
