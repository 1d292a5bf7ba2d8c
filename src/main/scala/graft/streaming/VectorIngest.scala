package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.llm.{KMeans, Similarity}
import graft.store.Store

/** Streaming ANN-index maintenance — the vector counterpart of
  * [[CorpusIngest]]: an unbounded stream of embeddings is folded into a
  * persistent IVF index that serves queries WITHOUT ever rescanning the
  * raw stream.
  *
  * Layout under one root dir. Everything a probe reads lives under
  * `index/`, one [[Store]] directory, so [[retrainAndSwap]] replaces it
  * with one [[Store.swap]] and a reader sees the old index or the new
  * one, never a mix (new centroids over old cell assignments would
  * probe the wrong partitions):
  *   - `index/centroids/` — (list_id, cent array<double>, cent_norm),
  *     trained ONCE on a bootstrap sample ([[trainCentroids]]) and then
  *     frozen: IVF assignment must be stable across batches or the index
  *     would need rebuilding (production systems retrain offline and
  *     swap the whole index, never mutate centroids under live appends).
  *   - `index/cells/` — (vec_id, embedding, v_norm), written
  *     `partitionBy(list_id)`: the cell id is the PARTITION KEY, so a
  *     probe of p cells reads p/kCells of the data — partition pruning
  *     is the scan-fraction knob (PlanShapeSpec proves the predicate
  *     reaches the scan as a PartitionFilter).
  *   - `index/codebook/` — the optional PQ codebook ([[trainCodebook]]).
  *   - `index/qbase/` — the drift baseline ([[quantizationDrift]]).
  *   - `guard/` — the [[ReplayGuard]] ledger; `_quarantine/` — rejected
  *     rows per `batch_id`. Both stay outside `index/`: a retrain moves
  *     cells, not the vector set.
  *
  * Per micro-batch: replayed vec_ids are dropped by the [[ReplayGuard]]
  * under `root/guard` — bloom-prefiltered, id-bucketed, so the guard's
  * cost is bounded by the batch, never by the total index (the earlier
  * form anti-joined each batch against the whole cell store: O(index)
  * per micro-batch, a scale killer at 10¹¹ vectors). Fresh vectors are
  * assigned to their nearest frozen centroid (broadcast BNLJ over
  * ≤ kCells rows), the guard records their ids (fail-closed — see
  * [[ReplayGuard]]'s crash-ordering contract; [[reconcile]] clears the
  * rare ledgered-but-unindexed orphans), and ONE append lands them in
  * their cell partitions: at-least-once in, at-most-once indexed.
  */
object VectorIngest {

  // The embedding dimension is fixed per index once trained (a retrain
  // keeps it — the embedding model, not the data, sets it), so the
  // validation predicate's dim lookup is cached per root instead of
  // costing a head() driver job on every micro-batch.
  private val dimCache = scala.collection.concurrent.TrieMap.empty[String, Int]

  /** Train k-means centroids on a bootstrap sample and freeze them
    * under `root/index/centroids`. Must run once before [[processBatch]]. */
  def trainCentroids(sample: DataFrame, root: String, kCells: Int = 16,
                     iters: Int = 5, dim: Int = 64): Unit = {
    val cents = KMeans.train(sample, kCells, iters, dim)
    val centDf = Similarity.centroidTable(sample.sparkSession, cents)
    healIndex(sample.sparkSession, root)
    Store.commit(centDf.coalesce(1), centroidsPath(root))
    // quantization baseline for [[quantizationDrift]]: how well these
    // centroids fit the data they were trained on — the reference the
    // retrain trigger compares live batches against
    Store.commit(qbaseRows(sample, centDf).coalesce(1), qbasePath(root))
    dimCache.put(root, dim)
  }

  /** The directory [[retrainAndSwap]] replaces as one unit. */
  private def indexPath(root: String): String = s"$root/index"

  /** Heal the index (a crash inside [[retrainAndSwap]]'s swap), then its
    * cell store (a crash inside a [[Store.compact]] of it). Every path
    * that reads, trains or appends to the index calls this first: an
    * unhealed miss would create a fresh dir that blocks healing
    * forever. */
  private def healIndex(spark: SparkSession, root: String): Unit = {
    Store.heal(spark, indexPath(root))
    Store.heal(spark, cellsPath(root))
  }

  /** Retrain centroids on `sample`, reassign every indexed vector to
    * the new cells, and atomically swap the whole index (one
    * [[Store.swap]] of `index/`) — probes see the old index until the
    * publish rename, the new one after, and a crash leaves one of the
    * two. The replay-guard ledger is untouched: the vector SET is
    * unchanged, only its cell layout moves. Like [[Store.compact]],
    * retrain assumes ingest is quiesced: a batch appended to the old
    * cells after the rebuild's read would not be in the new index.
    *
    * A PQ-coded store retrains its CODEBOOK too (same m/ksub, trained
    * on the same sample) and re-encodes every vector with it: a frozen
    * bootstrap codebook's quantization error grows under distribution
    * drift, decaying the [[annPq]] shortlist even after a "retrain".
    * The drift baseline is re-measured against the retrained fit, so a
    * drift check never compares live batches to a retired quantizer's
    * training error. Returns the number of vectors in the new index. */
  def retrainAndSwap(spark: SparkSession, root: String, sample: DataFrame,
                     kCells: Int = 16, iters: Int = 5, dim: Int = 64): Long = {
    healIndex(spark, root)
    Store.swap(spark, indexPath(root)) { stage =>
      val cents = KMeans.train(sample, kCells, iters, dim)
      Similarity.centroidTable(spark, cents)
        .coalesce(1).write.parquet(s"$stage/centroids")
      val staged = spark.read.parquet(s"$stage/centroids")
      qbaseRows(sample, staged).coalesce(1).write.parquet(s"$stage/qbase")
      val reassigned0 = Similarity.assignToCells(
        spark.read.parquet(cellsPath(root)).select("vec_id", "embedding"),
        staged, "vec_id", keep = 1)
      // a PQ-CODED store must stay coded through the retrain — with codes
      // from the RETRAINED codebook, staged beside it
      val reassigned = loadCodebook(spark, root) match {
        case Some(old) =>
          val cb = graft.llm.ProductQuantizer.train(
            sample, old.m, old.ksub, iters, dim)
          codebookRows(spark, cb).coalesce(1).write.parquet(s"$stage/codebook")
          reassigned0.join(
            graft.llm.ProductQuantizer.encode(
              reassigned0.select("vec_id", "embedding"), cb), Seq("vec_id"))
        case None => reassigned0
      }
      reassigned.repartition(col("list_id"))
        .write.partitionBy("list_id").parquet(s"$stage/cells")
    }
    dimCache.put(root, dim) // a retrain keeps dim, but keep the cache exact
    spark.read.parquet(cellsPath(root)).count()
  }

  private def centroidsPath(root: String): String = s"${indexPath(root)}/centroids"

  private def centroids(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(centroidsPath(root))

  /** The cell store; compact with [[Store.compact]]. */
  private[graft] def cellsPath(root: String): String = s"${indexPath(root)}/cells"

  // ── optional PQ-coded cell layout ──────────────────────────────────
  // Raw 64-dim doubles are ~512 B/vector — at billion scale that is
  // 32x more index bytes than PQ codes. When a codebook is trained
  // (BEFORE the first batch, like centroids), every admitted vector
  // also stores its m sub-quantizer codes, and [[annPq]] serves in two
  // passes: (1) ADC shortlist over a COLUMN-PRUNED scan of
  // (vec_id, codes) — the probed partitions' code bytes only, ~3% of
  // the raw column's I/O; (2) exact cosine rerank of the shortlist
  // against the raw embedding column, semi-joined down to shortlist
  // rows before any dot product. Same partition pruning as [[ann]];
  // recall floor spec-asserted (ADC ranks by L2, rerank restores
  // cosine order within the shortlist).

  private def codebookPath(root: String): String = s"${indexPath(root)}/codebook"

  /** Train per-subspace PQ codebooks on a bootstrap sample and freeze
    * them under `root/index/codebook`. OPTIONAL — when present, every
    * subsequent [[processBatch]] stores codes alongside raw vectors
    * (train it before the first batch: the cell store's schema is set
    * by the first append). Frozen like centroids and for the same
    * reason: codes must stay comparable across batches. */
  def trainCodebook(sample: DataFrame, root: String, m: Int = 8,
                    ksub: Int = 16, iters: Int = 5, dim: Int = 64): Unit = {
    val cb = graft.llm.ProductQuantizer.train(sample, m, ksub, iters, dim)
    healIndex(sample.sparkSession, root)
    Store.commit(codebookRows(sample.sparkSession, cb).coalesce(1), codebookPath(root))
  }

  /** A codebook as (s, cell, cent) rows, the stored form. */
  private def codebookRows(spark: SparkSession,
                           cb: graft.llm.ProductQuantizer.Codebook): DataFrame = {
    import spark.implicits._
    cb.cents.zipWithIndex.flatMap { case (cells, s) =>
      cells.map { case (cid, c) => (s, cid, c.toSeq) }
    }.toDF("s", "cell", "cent")
  }

  /** Codebook rows → [[graft.llm.ProductQuantizer.Codebook]]; bounded
    * collect (m·ksub rows). None when no codebook was trained. */
  private def loadCodebook(spark: SparkSession,
      root: String): Option[graft.llm.ProductQuantizer.Codebook] =
    if (!Store.exists(spark, codebookPath(root))) None
    else {
      val rows = spark.read.parquet(codebookPath(root)).collect()
      val cents = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map(_._2
        .map(r => (r.getLong(1), r.getSeq[Double](2).toArray))
        .sortBy(_._1).toIndexedSeq)
      Some(graft.llm.ProductQuantizer.Codebook(
        cents.size, cents.head.size, cents.head.head._2.length, cents))
    }

  /** One micro-batch of (vec_id, embedding): returns the number of
    * newly indexed vectors. foreachBatch-compatible. Zero-norm vectors
    * are rejected (they have no cell and no place in cosine ranking —
    * see [[Similarity]]); rejected rows leave no trace, so a corrected
    * re-send of the same vec_id can be admitted later.
    *
    * `assumeFresh = true` skips the internal [[ReplayGuard.filterFresh]]
    * probe — for composing drivers (qs9) that ALREADY filtered this
    * exact batch through [[guardDirOf]]'s guard immediately before the
    * call (the embed-at-the-door order pays the probe once, pre-embed;
    * without the flag the same batch was probed twice per delivery —
    * two extra driver collects and a bloom pass, pure job-launch wall
    * on a composed lifecycle). CONTRACT: the caller's probe must use
    * the SAME guard with no record() between probe and call; validation
    * and id-dedup still run here either way. */
  def processBatch(batch: DataFrame, root: String, batchId: Long = 0L,
                   assumeFresh: Boolean = false): Long = {
    val spark = batch.sparkSession
    val path = cellsPath(root)
    // heal BEFORE the exists probe — an unhealed miss would skip the
    // replay guard AND create a fresh dir that blocks healing forever
    healIndex(spark, root)
    val guardDir = guardPath(root)
    if (!ReplayGuard.exists(spark, guardDir)) {
      // 64 buckets, not the 256 default: sidecar/ledger file counts set
      // the per-batch guard I/O floor, and a vector index's id space
      // prunes as well at 64 (the bloom capacity per bucket grows with
      // the data either way)
      ReplayGuard.bootstrap(spark, guardDir, nBuckets = 64)
      // migrate a pre-guard store: one-time O(index) seed of the ledger
      if (Store.exists(spark, path))
        ReplayGuard.record(
          spark.read.parquet(path).select("vec_id"), "vec_id", guardDir)
    }
    // INPUT VALIDATION with an audit trail: a null-id row would vanish
    // silently inside the guard's bloom probe, and a null/wrong-dim
    // embedding would be dropped by assignToCells' norm filter — both
    // invisible data bugs at stream scale. Quarantine them instead
    // (root/_quarantine/batch_id=N, with reason), and index only
    // well-formed rows. Discipline (review-hardened):
    //   - validate BEFORE dropDuplicates, so every malformed row is
    //     audited (null ids would otherwise collapse to one group);
    //   - the validity flag is a PURE row-wise predicate computed
    //     BEFORE the id dedup, so every re-evaluation splits the batch
    //     identically — no materialization needed (a dedup-first order
    //     would make the split ride dropDuplicates' nondeterministic
    //     survivor and need staging);
    //   - the quarantine write commits its batch_id subdir (Store's
    //     per-batch contract), so a re-run of the batch is idempotent;
    //   - invalid rows are NOT ledgered: a corrected re-send of the id
    //     is admitted, never treated as a replay.
    val cents = centroids(spark, root)
    val dim = dimCache.getOrElseUpdate(root,
      cents.select(size(col("cent"))).head().getInt(0))
    val wellFormed = col("vec_id").isNotNull && col("embedding").isNotNull &&
      size(col("embedding")) === dim
    // the invalid-row existence check RIDES the guard's touched-bucket
    // collect (the batch's first action) as an observed metric instead
    // of costing its own limit(1).count() job — a clean batch pays
    // nothing for it
    val obs = org.apache.spark.sql.Observation()
    val flagged = batch.select(col("vec_id"), col("embedding"))
      .withColumn("__ok", coalesce(wellFormed, lit(false)))
      .observe(obs, count(when(!col("__ok"), lit(1))).as("n_bad"))
    // staged once (the CorpusIngest discipline): the guard probe
    // re-references the batch ~4x and the assignment reads it again —
    // unstaged, each action re-ran the source scan + validation. The
    // quarantine metric rides this materialization.
    val fresh0 = graft.llm.Stage(flagged.filter(col("__ok"))
      .select("vec_id", "embedding").dropDuplicates("vec_id"))
    val fresh =
      if (assumeFresh) fresh0
      else ReplayGuard.filterFresh(fresh0, "vec_id", guardDir)
    // ABSENT metric ≠ 0: an all-invalid batch over a statically-empty
    // relation loses its CollectMetrics node to PropagateEmptyRelation
    // (see CorpusIngest.processBatch) — fall back to an explicit probe
    val nBad = obs.get.get("n_bad").map(_.asInstanceOf[Long]).getOrElse(
      flagged.filter(!col("__ok")).limit(1).count())
    if (nBad > 0) {
      val quarantine = s"$root/_quarantine/batch_id=$batchId"
      Store.heal(spark, quarantine)
      Store.commit(flagged.filter(!col("__ok")).select(col("vec_id"),
          when(col("vec_id").isNull, "vec_id_null")
            .when(col("embedding").isNull, "embedding_null")
            .otherwise("wrong_dim").as("reason"),
          coalesce(size(col("embedding")), lit(-1)).as("n_dims")),
        quarantine)
    }
    val assignedRaw = Similarity.assignToCells(fresh, cents, "vec_id", keep = 1)
    // PQ layout: codes ride the same staged frame — encode() is a
    // narrow literal expression below the budget, so this adds one
    // column to the append, not a job
    val assigned = graft.llm.Stage(loadCodebook(spark, root) match {
      case Some(cb) => assignedRaw.join(
        graft.llm.ProductQuantizer.encode(
          assignedRaw.select("vec_id", "embedding"), cb), Seq("vec_id"))
      case None => assignedRaw
    })
    // guard BEFORE the cell append (fail-closed): a crash between the
    // two leaves a ledgered-but-unindexed orphan reconcile() can clear,
    // never a duplicate vector. The count rides the guard's aggregate.
    val n = ReplayGuard.record(assigned.select("vec_id"), "vec_id", guardDir)
    if (n > 0) Store.append(assigned, path, "list_id")
    n
  }

  /** Public so composed drivers (qs9) can pre-filter a delta through
    * the guard BEFORE paying embedding for rows the ingest would drop
    * anyway — the embed-at-the-door order at scale. */
  def guardDirOf(root: String): String = s"$root/guard"
  private def guardPath(root: String): String = guardDirOf(root)

  /** Ledgered-but-unindexed vec_ids (guard committed, cell append never
    * ran — the fail-closed crash window, during which redelivery of
    * those ids is silently dropped). `evict = true` clears them from
    * the ledger so a re-send is admitted. Run from maintenance, like
    * [[Store.compact]]. */
  def reconcile(spark: SparkSession, root: String,
                evict: Boolean = false): Seq[Long] = {
    healIndex(spark, root)
    val store = Store.read(spark, cellsPath(root)).map(_.select("vec_id"))
      .getOrElse {
        import spark.implicits._
        spark.emptyDataset[Long].toDF("vec_id")
      }
    // staged only when evicting (the CorpusIngest.reconcile rule): the
    // read-only sweep's one consumer is the collect below
    val orphans0 = ReplayGuard.orphans(spark, guardPath(root), store, "vec_id")
    val orphans = if (evict) graft.llm.Stage(orphans0) else orphans0
    if (evict) ReplayGuard.evict(spark, guardPath(root), orphans, "vec_id")
    orphans.collect().map(_.getLong(0)).sorted.toSeq
  }

  // ── index health / drift observability ─────────────────────────────

  private def qbasePath(root: String): String = s"${indexPath(root)}/qbase"

  /** (n, sum_err) of `df`'s angular quantization error against `cents`:
    * per vector err_micros = 1e6 − floor(1e6 · best cosine to any
    * centroid) — the assignment metric the index itself probes by.
    * Broadcast BNLJ over ≤ kCells rows + one keyed max, O(|df|); the
    * floored per-row longs sum order-free, so the result is
    * deterministic under any partitioning. Malformed rows are excluded
    * exactly as ingest rejects them — null id, null/zero-norm
    * embedding, AND wrong dimension (the per-row size-vs-cent check:
    * without it a model-version switch scores silently
    * length-truncated dot products and fires a pointless retrain on a
    * batch ingest fully quarantines). */
  private def cellErrAgg(df: DataFrame, cents: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"),
        Similarity.norm(col("embedding")).as("v_norm"))
      .filter(col("vec_id").isNotNull && col("v_norm") > 0)
      .join(broadcast(cents), expr("true"))
      .filter(size(col("embedding")) === size(col("cent")))
      .withColumn("c_sim", Similarity.dot(col("embedding"), col("cent")) /
        (col("v_norm") * col("cent_norm")))
      .groupBy("vec_id").agg(max("c_sim").as("best"))
      .agg(count(lit(1)).as("n"),
        sum(lit(1000000L) - floor(col("best") * 1e6).cast("long"))
          .as("sum_err"))

  /** The one definition of the drift baseline — (base_err_micros,
    * n_sample) of `sample` against `cents` — shared by
    * [[trainCentroids]], [[retrainAndSwap]] and [[driftReport]] so the
    * store-based trigger can never desynchronize from the
    * oracle-proven pure form (q164). */
  private def qbaseRows(sample: DataFrame, cents: DataFrame): DataFrame =
    cellErrAgg(sample, cents)
      .select(when(col("n") > 0, expr("sum_err DIV n")).otherwise(lit(0L))
          .as("base_err_micros"),
        col("n").as("n_sample"))

  /** One-row health report of the live index — the numbers an operator
    * watches to schedule [[Store.compact]] / [[retrainAndSwap]]:
    * trained vs used cell counts, vector total, per-cell min/max/mean,
    * `imbalance_ppm` (max cell over the mean, ppm — 1e6 = perfectly
    * balanced; a hot cell inflates every probe that hits it), coded
    * flag, quarantine total. The per-cell counts scan ONLY the
    * partition column (column-pruned to zero data bytes — parquet
    * answers it from footers), so the report is metadata-cheap at any
    * index size. */
  def indexStats(spark: SparkSession, root: String): DataFrame = {
    healIndex(spark, root)
    val nCells = centroids(spark, root).count()
    val coded = if (Store.exists(spark, codebookPath(root))) 1L else 0L
    val quarDir = s"$root/_quarantine"
    val nQuar = if (Store.exists(spark, quarDir))
      spark.read.parquet(quarDir).count() else 0L
    val perCell = Store.read(spark, cellsPath(root))
      .map(_.groupBy("list_id").agg(count(lit(1)).as("n")))
      .getOrElse {
        import spark.implicits._
        spark.emptyDataset[(Long, Long)].toDF("list_id", "n")
      }
    perCell.agg(count(lit(1)).as("n_cells_used"),
        coalesce(sum("n"), lit(0L)).as("n_vectors"),
        coalesce(min("n"), lit(0L)).as("min_cell"),
        coalesce(max("n"), lit(0L)).as("max_cell"))
      .select(lit(nCells).as("n_cells"), col("n_cells_used"),
        col("n_vectors"), col("min_cell"), col("max_cell"),
        when(col("n_cells_used") > 0,
          expr("n_vectors DIV n_cells_used")).otherwise(lit(0L))
          .as("avg_cell"))
      // max/avg, NOT max·used·1e6/total: the latter's intermediate
      // wraps Long past ~9e12 max-cell·used products — a negative
      // "better than balanced" on exactly the pathological index this
      // metric exists to flag. avg ≥ 1 whenever any cell is used.
      .withColumn("imbalance_ppm",
        when(col("n_vectors") > 0,
          expr("max_cell * 1000000 DIV greatest(avg_cell, 1)"))
          .otherwise(lit(0L)))
      .withColumn("coded", lit(coded))
      .withColumn("n_quarantined", lit(nQuar))
  }

  /** Quantization-drift check — the RETRAIN TRIGGER for
    * [[retrainAndSwap]]: compares a batch's mean angular quantization
    * error against the baseline recorded when the centroids were
    * trained (`root/index/qbase`, written by [[trainCentroids]] and
    * re-measured by every [[retrainAndSwap]]). Under distribution
    * drift the frozen centroids fit new data worse, probes touch
    * wronger cells, and (on a coded store) ADC error grows — this
    * surfaces that as `drift_ppm` = batch error / baseline error,
    * O(batch) per check, no store scan. `retrain_suggested` = 1 once
    * the ratio clears `thresholdPpm` (default: batch error 2x the
    * training fit). An empty / all-malformed batch carries no signal:
    * null errs, suggestion 0. */
  def quantizationDrift(spark: SparkSession, root: String, batch: DataFrame,
                        thresholdPpm: Long = 2000000L): DataFrame = {
    healIndex(spark, root)
    require(Store.exists(spark, qbasePath(root)),
      s"no quantization baseline under ${qbasePath(root)} — (re)train the " +
        "centroids with this round's trainCentroids/retrainAndSwap first")
    driftFrom(
      cellErrAgg(batch, centroids(spark, root)),
      spark.read.parquet(qbasePath(root))
        .select(col("base_err_micros").as("__base")),
      thresholdPpm)
  }

  /** Pure form of [[quantizationDrift]] — explicit centroids and an
    * explicit train set instead of a store: the oracle-checkable core
    * (q164 replays the whole integer pipeline — floored angular errs,
    * DIV means, the ppm ratio — against DuckDB). The store-based form
    * is this with the train leg precomputed into `root/index/qbase`. */
  def driftReport(batch: DataFrame, train: DataFrame, cents: DataFrame,
                  thresholdPpm: Long = 2000000L): DataFrame =
    driftFrom(
      cellErrAgg(batch, cents),
      qbaseRows(train, cents).select(col("base_err_micros").as("__base")),
      thresholdPpm)

  private def driftFrom(batchAgg: DataFrame, base: DataFrame,
                        thresholdPpm: Long): DataFrame =
    batchAgg.crossJoin(broadcast(base))
      .select(col("n").as("n_batch"),
        when(col("n") > 0, expr("sum_err DIV n")).as("batch_err_micros"),
        col("__base").as("base_err_micros"),
        when(col("n") > 0,
          expr("(sum_err DIV n) * 1000000 DIV greatest(__base, 1)"))
          .as("drift_ppm"))
      .withColumn("retrain_suggested",
        coalesce((col("drift_ppm") > thresholdPpm).cast("long"), lit(0L)))

  /** The maintained store's full vector surface (vec_id, embedding) —
    * for retrieval paths OTHER than the IVF probe ([[ann]]): a
    * composite-LSH serving layer ([[graft.llm.Similarity.lshKnnComposite]])
    * or a re-ranker builds its own index over exactly what incremental
    * ingest admitted. Heals interrupted swaps first, like every other
    * read path. One scan, no shuffle — bucket/index construction is the
    * consumer's. */
  def storedVectors(spark: SparkSession, root: String): DataFrame = {
    healIndex(spark, root)
    spark.read.parquet(cellsPath(root)).select("vec_id", "embedding")
  }

  /** Top-k cosine neighbors for each query vector, served entirely off
    * the index: queries assign to their `nProbe` nearest frozen
    * centroids, the probed cell ids (≤ kCells values) prune the cells
    * scan to those partitions, candidates meet in an equi-join on
    * list_id, and a rank window takes the top k. With
    * `nProbe = kCells` this probes every cell and is EXACT brute-force
    * cosine top-k over the indexed vectors (VectorIngestSpec asserts
    * equality with [[Similarity.bruteForceKnn]]). */
  def ann(spark: SparkSession, root: String, queries: DataFrame, k: Int,
          nProbe: Int = 4): DataFrame =
    annScored(spark, root, queries, k, nProbe)
      .select("query_id", "neighbor_id", "rnk")

  /** [[ann]] keeping the exact cosine — (query_id, neighbor_id, rnk,
    * sim) — the scored-candidate surface downstream re-rankers consume:
    * rename neighbor_id→cand_id / sim→sim_q and
    * [[graft.llm.Similarity.mmrRerankFromCandidates]] (or
    * [[graft.llm.Similarity.marginFromSims]] after the analogous rename)
    * runs directly over an index probe — no corpus rescan anywhere in
    * the chain (VectorIngestSpec drives the composition). */
  /** `allowed`: FILTERED vector search — the metadata-constrained probe
    * every vector store serves ("nearest chunks from source X / lang Y
    * / after date Z"): a pre-resolved (vec_id) allowlist semi-joins the
    * probed candidates BEFORE the rank cut, so the result is the exact
    * filtered top-k over the probed cells (and exactly brute force over
    * the allowed corpus at full coverage — VectorIngestSpec). Resolving
    * the predicate to ids stays the caller's join against its metadata
    * table — the index stores vectors, not attributes, and a semi-join
    * composes with any predicate shape. Post-filtering the UNfiltered
    * top-k would instead return < k rows whenever the filter is
    * selective — the classic filtered-ANN failure this avoids. */
  def annScored(spark: SparkSession, root: String, queries: DataFrame, k: Int,
                nProbe: Int = 4, allowed: Option[DataFrame] = None): DataFrame = {
    healIndex(spark, root)
    val qs = Similarity.assignToCells(
        queries, centroids(spark, root), "query_id", keep = nProbe)
      .select(col("query_id"), col("embedding").as("q_emb"),
        col("v_norm").as("q_norm"), col("list_id"))
    // probed cell ids: bounded by kCells (tiny), collected so the cell
    // predicate is a literal IN list the scan can partition-prune on
    val probed = qs.select("list_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val cellsBase = spark.read.parquet(cellsPath(root))
      .filter(col("list_id").isin(probed.toIndexedSeq.map(_.asInstanceOf[Any]): _*))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
        col("v_norm").as("c_norm"), col("list_id"))
    val cells = allowed match {
      case Some(a) => cellsBase.join(
        a.select(col("vec_id").as("neighbor_id")).distinct(),
        Seq("neighbor_id"), "left_semi")
      case None => cellsBase
    }
    val scored = qs.join(cells, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        Similarity.dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk", "sim")
  }

  /** Top-k cosine neighbors off the PQ-CODED cell store, two passes:
    * ADC shortlist over (vec_id, codes) — the probed partitions'
    * column-pruned code bytes, never the raw embedding column — then an
    * exact cosine rerank of the ≤`shortlist` candidates per query
    * against raw vectors (semi-joined down before any dot product).
    * Requires [[trainCodebook]] before the first batch. ADC ranks by
    * approximate squared L2 (Jégou et al. 2011), the rerank restores
    * exact cosine order within the shortlist — recall floor asserted in
    * VectorIngestSpec, exact when `shortlist` covers the cells. */
  def annPq(spark: SparkSession, root: String, queries: DataFrame, k: Int,
            nProbe: Int = 4, shortlist: Int = 50): DataFrame = {
    healIndex(spark, root)
    val cb = loadCodebook(spark, root).getOrElse(throw new IllegalStateException(
      s"no PQ codebook at $root — trainCodebook before annPq"))
    val qs = Similarity.assignToCells(
        queries, centroids(spark, root), "query_id", keep = nProbe)
      .select(col("query_id"), col("embedding").as("q_emb"),
        col("v_norm").as("q_norm"), col("list_id"))
    val probed = qs.select("list_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val probedIn = probed.toIndexedSeq.map(_.asInstanceOf[Any])
    // per-query ADC distance tables (m·ksub doubles) computed ONCE and
    // broadcast with the probe rows — a candidate's score is m array
    // lookups, never a D-dim dot product
    val withTables = (0 until cb.m).foldLeft(qs) { (df, s) =>
      val qSub = slice(col("q_emb"), s * cb.subDim + 1, cb.subDim)
      val table = array(cb.cents(s).map { case (_, c) =>
        val cArr = array(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(c.map(lit)): _*)
        lit(c.map(x => x * x).sum) - lit(2.0) * Similarity.dot(qSub, cArr)
      }: _*)
      df.withColumn(s"__t$s", table)
    }
    // pass 1: codes-only scan of the probed partitions (ReadSchema
    // excludes the embedding column — the 32x I/O cut)
    val codes = spark.read.parquet(cellsPath(root))
      .filter(col("list_id").isin(probedIn: _*))
      .select(col("vec_id").as("neighbor_id"), col("codes"), col("list_id"))
    val adcScore = (0 until cb.m).map { s =>
      element_at(col(s"__t$s"), element_at(col("codes"), s + 1).cast("int") + 1)
    }.reduce(_ + _)
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("neighbor_id"))
    val short = broadcast(withTables).join(codes, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", adcScore)
      .withColumn("srnk", row_number().over(wAdc))
      .filter(col("srnk") <= shortlist)
      .select("query_id", "neighbor_id", "q_emb", "q_norm")
    // pass 2: exact rerank — raw embeddings only for shortlist rows
    val raw = spark.read.parquet(cellsPath(root))
      .filter(col("list_id").isin(probedIn: _*))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
        col("v_norm").as("c_norm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    short.join(raw, Seq("neighbor_id"))
      .withColumn("sim",
        Similarity.dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** SemDeDup AT THE DOOR — the vector-store face of
    * [[CorpusIngest]]'s dedup-on-admission: batch vectors whose best
    * cosine against the EXISTING index reaches `minSimPpm` are semantic
    * near-duplicates of already-admitted content. Returns
    * (vec_id, dup_of, sim_ppm) for the rejects; compose with
    * `batch.join(rejects, Seq("vec_id"), "left_anti")` before
    * [[processBatch]] (or use [[processBatchDeduped]]). Probe cost is
    * one partition-pruned [[annScored]] pass with the batch as queries —
    * the index is never rescanned beyond the probed cells, so the gate
    * is O(batch), like every admission guard in this engine. Contract
    * is vs the STORE only: within-batch near-dups are the banded
    * text-dedup family's job. An empty (never-written) index rejects
    * nothing. */
  def semanticRejects(spark: SparkSession, root: String, batch: DataFrame,
                      minSimPpm: Long, nProbe: Int = 4): DataFrame = {
    healIndex(spark, root)
    if (!Store.exists(spark, cellsPath(root)))
      return batch.select(col("vec_id"), col("vec_id").as("dup_of"),
        lit(0L).as("sim_ppm")).limit(0)
    annScored(spark, root, batch, k = 1, nProbe = nProbe)
      .withColumn("sim_ppm",
        floor(col("sim") * lit(1000000.0) + lit(0.5)).cast("long"))
      .filter(col("sim_ppm") >= minSimPpm)
      .select(col("query_id").as("vec_id"),
        col("neighbor_id").as("dup_of"), col("sim_ppm"))
  }

  /** [[processBatch]] with the semantic near-dup gate applied first:
    * admits only batch vectors novel vs the index at `minSimPpm`,
    * returns (admitted count, rejected pairs — collected-size bounded
    * by the batch). Rejections leave no guard ledger row, so a vector
    * re-sent after the blocking original is removed can be admitted —
    * the same contract as every quarantine in this engine. */
  def processBatchDeduped(batch: DataFrame, root: String, minSimPpm: Long,
                          nProbe: Int = 4,
                          batchId: Long = 0L): (Long, DataFrame) = {
    val spark = batch.sparkSession
    val rejects = graft.llm.Stage(
      semanticRejects(spark, root, batch, minSimPpm, nProbe))
    val admitted = processBatch(
      batch.join(rejects, Seq("vec_id"), "left_anti"), root, batchId)
    (admitted, rejects)
  }

  /** MAINTAINED top-k neighbor lists — the continuously-adaptive
    * similarity-search shape (EDBT'20 incremental top-k sessions,
    * SIGMOD'20 continuously adaptive search): for each REGISTERED
    * query, the exact cosine top-k over everything ingested so far,
    * updated per batch by scoring the queries against ONLY the new
    * vectors and merging two bounded lists. Top-k under the
    * (sim desc, neighbor_id) TOTAL order is an exactly mergeable
    * aggregate — merge(topk(A), topk(B)) == topk(A ∪ B) — so the
    * maintained lists EQUAL the one-shot brute-force answer at every
    * point, for any batch split (VectorIngestSpec + q147's oracle).
    * Cost per batch: |queries|·|batch| broadcast-scored pairs + a
    * k-bounded merge; the index is never rescanned. The
    * (query_id, neighbor_id) dedup makes an at-least-once replay of a
    * batch a no-op (the same pair rescores to the identical double).
    * State at `topkDir`: (query_id, neighbor_id, sim, rnk), swapped
    * atomically. Returns the state's row count. */
  def maintainTopK(spark: SparkSession, topkDir: String, queries: DataFrame,
                   newBatch: DataFrame, k: Int): Long = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"),
        Similarity.norm(col("embedding")).as("q_norm"))
      .filter(col("q_norm") > 0))
    val c = newBatch.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"),
        Similarity.norm(col("embedding")).as("c_norm"))
      .filter(col("c_norm") > 0)
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val fresh = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        Similarity.dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "sim")
    val unioned = Store.read(spark, topkDir).fold(fresh)(
      _.select("query_id", "neighbor_id", "sim").unionByName(fresh))
    val merged = unioned.dropDuplicates("query_id", "neighbor_id")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
    Store.commit(merged, topkDir)
    spark.read.parquet(topkDir).count()
  }

  /** Structured Streaming driver: fold a stream of embeddings into the
    * index. Centroids must already be trained. */
  def start(spark: SparkSession, stream: DataFrame, root: String,
            checkpoint: String, driftDir: Option[String] = None,
            driftThresholdPpm: Long = 2000000L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(batch, root, id)
        driftDir.foreach(d =>
          recordDrift(spark, root, batch, d, id, driftThresholdPpm))
        ()
      }
      .start()

  /** Continuous drift monitoring riding the ingest loop: one
    * [[quantizationDrift]] verdict row per micro-batch appended under
    * `monitorDir/batch_id=N` — a per-batch subdirectory commit, so an
    * at-least-once replay rewrites the same row instead of
    * double-counting. The monitor table is what an operator (or a
    * maintenance cron) reads to schedule [[retrainAndSwap]]: a run of
    * `retrain_suggested = 1` rows is the signal, and because each check
    * is O(batch) the monitoring cost scales with the stream, never the
    * index. Measured on the RAW batch (pre-guard), so a replayed batch
    * still reports — drift is a property of what ARRIVES, not of what
    * was admitted. */
  def recordDrift(spark: SparkSession, root: String, batch: DataFrame,
                  monitorDir: String, batchId: Long,
                  thresholdPpm: Long = 2000000L): Unit = {
    // a MONITOR must never kill the ingest it watches: a store trained
    // before baselines existed has no qbase, and quantizationDrift's
    // require would throw inside foreachBatch on every batch — a
    // crash-loop bought by turning monitoring ON. Skip (the next
    // retrainAndSwap records a baseline and checks resume); the direct
    // quantizationDrift call keeps its loud require for explicit use.
    healIndex(spark, root)
    if (Store.exists(spark, qbasePath(root))) {
      val out = s"$monitorDir/batch_id=$batchId"
      Store.heal(spark, out)
      Store.commit(quantizationDrift(spark, root, batch, thresholdPpm).coalesce(1), out)
    }
  }
}
