package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.DotProduct.dot_product

/** Similarity search over an embedding column (Array[Float]).
  *
  * Baseline: brute-force cosine top-k (exact). Scale path: random-
  * hyperplane LSH bucketing — both with deterministic, seedless
  * constructions (plane weights derive from integer hashing, never
  * Math.random, so results are stable across runs/resumes).
  *
  * The inner product is [[graft.functions.DotProduct]] — a codegen'd
  * native expression (Spark's higher-order functions are interpreted and
  * were the bench hotspot). Row norms are computed once per row BEFORE
  * the pair join, never per pair: at N×M pairs that turns 3 dot products
  * per pair into 1, with arithmetic identical to dot/(|a||b|).
  *
  * Zero vectors: double division by a 0.0 norm does NOT fail (ANSI
  * DIVIDE_BY_ZERO applies to integral/decimal division only) — it
  * yields NaN, and Spark orders NaN GREATER than any double, so NaN
  * sims would rank FIRST under `desc` and silently corrupt top-k.
  * Every operator here therefore filters zero-norm rows out of both
  * sides before scoring (a zero vector carries no direction and has no
  * place in cosine ranking). The oracle queries carry no such filter —
  * equivalence holds because the test embeddings contain no zero
  * vectors; a zero vector in real data changes only which rows are
  * eligible, never the arithmetic of surviving pairs.
  */
object Similarity {

  /** dot(a, b) in double precision (codegen'd native expression). */
  def dot(a: Column, b: Column): Column = dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force top-k neighbors for each query vector.
    * Plan shape: broadcast the (small) query set against the full corpus —
    * a broadcast nested-loop with a codegen'd dot product, then a
    * rank-window partitioned by query. At 1000 executors this scans the
    * corpus once regardless of query count; there is no all-pairs shuffle.
    * Output: (query_id, neighbor_id, rnk) — ids only, so results are
    * hash-comparable across engines (scores differ in ulps, ranks do not).
    */
  def bruteForceKnn(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), norm(col("embedding")).as("q_norm"))
      .filter(col("q_norm") > 0))
    val c = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm"))
      .filter(col("c_norm") > 0)
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** MMR diversity re-ranking (Carbonell & Goldstein 1998): greedily
    * select `kOut` of each query's `kCand` nearest candidates, each
    * step taking argmax of λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s) —
    * relevance traded against redundancy to the already-selected set.
    * The standard diverse-example selection step (few-shot pools,
    * eval-set picking, dedup-aware retrieval) that plain top-k lacks:
    * top-k happily returns k near-copies of one document.
    *
    * Shape: exact top-kCand per query (broadcast queries, one corpus
    * scan — the caller-bounded BASELINE; at 100 TB feed ANN candidates
    * through [[mmrRerankFromCandidates]] / [[mmrRerankAnn]] instead),
    * candidate-pair sims computed ONCE per query
    * (≤ kCand² rows/query, query-keyed equi-join — never corpus-pair),
    * then kOut driver-composed rounds, each one join + one rank window
    * over the candidate table. Deterministic (ties → lower id) and
    * oracle-replayable: q148 statically unrolls the same greedy rounds
    * (the q111 BPE discipline). Returns (query_id, cand_id, step). */
  def mmrRerank(emb: DataFrame, queries: DataFrame, kCand: Int, kOut: Int,
                lambda: Double = 0.7): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), norm(col("embedding")).as("q_norm"))
      .filter(col("q_norm") > 0))
    val c = emb.select(col("vec_id").as("cand_id"),
        col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm"))
      .filter(col("c_norm") > 0)
    val wq = Window.partitionBy("query_id")
      .orderBy(col("sim_q").desc, col("cand_id"))
    val cands = q.join(c, col("query_id") =!= col("cand_id"))
      .withColumn("sim_q",
        dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .withColumn("rnk", row_number().over(wq))
      .filter(col("rnk") <= kCand)
      .select("query_id", "cand_id", "sim_q", "c_emb", "c_norm")
    mmrGreedy(cands, kOut, lambda)
  }

  /** MMR greedy selection over ANY candidate table — the
    * [[marginFromSims]] discipline applied to diversity re-ranking,
    * and the form that matters at 100 TB: diversity re-ranking over
    * ANN-RETRIEVED candidates is exactly what MMR is for, and the full
    * greedy is candidate-bounded (≤ kCand² pair sims per query) once
    * the candidate set is. `cands` is (query_id, cand_id, sim_q) from
    * any source — [[lshKnn]]/[[lshKnnComposite]] buckets,
    * [[ivfKnnTrained]] cells, a [[graft.streaming.VectorIngest]] probe,
    * or the exact scan [[mmrRerank]] wires. Candidate vectors (for the
    * pairwise-redundancy sims) are fetched from `emb` BY ID — the
    * candidate table itself never carries embeddings through a
    * shuffle. Returns (query_id, cand_id, step). */
  def mmrRerankFromCandidates(cands: DataFrame, emb: DataFrame, kOut: Int,
                              lambda: Double = 0.7): DataFrame = {
    val cv = emb.select(col("vec_id").as("cand_id"),
        col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm"))
      .filter(col("c_norm") > 0)
    mmrGreedy(cands.select("query_id", "cand_id", "sim_q")
      .join(cv, Seq("cand_id")), kOut, lambda)
  }

  /** MMR over composite-LSH candidates — [[mmrRerank]]'s 100 TB form:
    * candidates from [[lshCompositeCandidates]] (corpus scanned once,
    * query-side probe explode, never a cross join), exact-cosine scored
    * and cut to the top kCand per query, then the same greedy via
    * [[mmrRerankFromCandidates]]. Equals exact [[mmrRerank]] whenever
    * the probe set covers the true top-kCand (AnnRecallSpec asserts
    * this and the coverage floors). */
  def mmrRerankAnn(emb: DataFrame, queries: DataFrame, kCand: Int, kOut: Int,
                   lambda: Double = 0.7, planes: Int = 6, dim: Int = 64,
                   tables: Int = 4, probeHamming: Int = 1): DataFrame = {
    val cand = lshCompositeCandidates(emb, queries, planes, dim, tables,
      probeHamming)
    val qv = broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), norm(col("embedding")).as("q_norm"))
      .filter(col("q_norm") > 0))
    val cv = emb.select(col("vec_id").as("cand_id"),
        col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm"))
      .filter(col("c_norm") > 0)
    val wq = Window.partitionBy("query_id")
      .orderBy(col("sim_q").desc, col("cand_id"))
    val scored = cand.select(col("query_id"), col("neighbor_id").as("cand_id"))
      .join(cv, Seq("cand_id")).join(qv, Seq("query_id"))
      .withColumn("sim_q",
        dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .withColumn("rnk", row_number().over(wq))
      .filter(col("rnk") <= kCand)
      .select("query_id", "cand_id", "sim_q", "c_emb", "c_norm")
    mmrGreedy(scored, kOut, lambda)
  }

  /** Shared greedy tail of the MMR family: kOut driver-composed rounds
    * over a candidate table (query_id, cand_id, sim_q, c_emb, c_norm)
    * that is ALREADY cut to each query's candidate set. */
  private def mmrGreedy(candidates: DataFrame, kOut: Int,
                        lambda: Double): DataFrame = {
    val wq = Window.partitionBy("query_id")
      .orderBy(col("sim_q").desc, col("cand_id"))
    val cands = Stage(candidates)
    val a = cands.select(col("query_id"), col("cand_id").as("a_id"),
      col("c_emb").as("a_emb"), col("c_norm").as("a_norm"))
    val b = cands.select(col("query_id"), col("cand_id").as("b_id"),
      col("c_emb").as("b_emb"), col("c_norm").as("b_norm"))
    val pair = Stage(a.join(b, Seq("query_id"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("sim_ab",
        dot(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
      .select("query_id", "a_id", "b_id", "sim_ab"))
    val slim = cands.select("query_id", "cand_id", "sim_q")
    // step 1: pure relevance
    var selected = slim
      .withColumn("rn", row_number().over(wq)).filter(col("rn") === 1)
      .select(col("query_id"), col("cand_id"), lit(1L).as("step"))
    for (r <- 2 to kOut) {
      val selIds = selected.select(col("query_id"), col("cand_id").as("b_id"))
      val remaining = slim.join(
        selected.select("query_id", "cand_id"), Seq("query_id", "cand_id"), "left_anti")
      val msel = pair.join(selIds, Seq("query_id", "b_id"))
        .groupBy("query_id", "a_id").agg(max("sim_ab").as("msel"))
        .select(col("query_id"), col("a_id").as("cand_id"), col("msel"))
      val wMmr = Window.partitionBy("query_id")
        .orderBy(col("mmr").desc, col("cand_id"))
      val picked = remaining.join(msel, Seq("query_id", "cand_id"))
        .withColumn("mmr",
          lit(lambda) * col("sim_q") - lit(1.0 - lambda) * col("msel"))
        .withColumn("rn", row_number().over(wMmr)).filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id"), lit(r.toLong).as("step"))
      selected = Stage(selected.unionByName(picked))
    }
    selected
  }

  /** RECIPROCAL RANK FUSION (Cormack et al. 2009) — the standard
    * hybrid-search fusion step (every production vector store ships
    * it): fuse ANY number of per-query rankings (query_id, doc_id,
    * rnk) into one list by score(q,d) = Σ_lists 1/(kConst + rnk).
    * Rankings can come from anything sharing the query-id space —
    * [[graft.llm.Corpus.bm25TopK]] lexical ranks, [[bruteForceKnn]] /
    * [[lshKnn]] / [[graft.streaming.VectorIngest.ann]] dense ranks — and
    * a doc absent from a list simply contributes nothing (the RRF
    * convention).
    *
    * Exactness: each term is the INTEGER floor(1e12/(kConst+rnk)) and
    * the per-(query, doc) score an integer sum — order-free, so fusing
    * 3+ lists stays deterministic where a double fold would depend on
    * addend order. Output: (query_id, doc_id, fused_score, rnk). */
  def rrfFuse(rankings: Seq[DataFrame], kConst: Int = 60,
              topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    // DIV, not `/`: Spark's `/` on longs is DOUBLE division, whose
    // round-to-nearest can land ABOVE the true quotient before the cast
    // truncates — DIV is exact integer division like the oracle's `//`
    val terms = rankings.map(_.select(col("query_id"), col("doc_id"),
      expr(s"CAST(1000000000000 DIV ($kConst + rnk) AS BIGINT)").as("t")))
      .reduce(_ unionByName _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("fused_score").desc, col("doc_id"))
    terms.groupBy("query_id", "doc_id")
      .agg(sum("t").as("fused_score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("doc_id"),
        col("fused_score").cast("long").as("fused_score"), col("rnk"))
  }

  /** MARGIN-BASED bitext/pair mining (Artetxe & Schwenk 2019; the
    * CCMatrix construction): for each source vector the best target by
    * RATIO MARGIN — sim(x,y) normalized by the mean of both sides'
    * k-nearest similarities, margin(x,y) = 2·sim(x,y) /
    * (avgK(x) + avgK(y)) — which suppresses hub vectors that are
    * near-everything and is the standard mined-parallel-corpus filter.
    *
    * Takes ANY candidate sim table (src_id, tgt_id, sim): at 100 TB
    * feed it ANN candidates ([[lshKnn]] buckets, [[ivfKnnTrained]]
    * cells, or a [[graft.streaming.VectorIngest]] probe) so the margin
    * is computed over each vector's retrieved neighborhood exactly as
    * the production systems do; [[marginMine]] below wires the dense
    * small-side-broadcast baseline. Determinism: the k-NN averages are
    * sequential folds in rank order (collect_list sorted by rank), so
    * every margin is bit-identical to the oracle's ordered
    * list_reduce — margins are emitted as exact micros, not just
    * ranks. */
  def marginFromSims(sims: DataFrame, kAvg: Int = 4): DataFrame = {
    val wf = Window.partitionBy("src_id").orderBy(col("sim").desc, col("tgt_id"))
    val wb = Window.partitionBy("tgt_id").orderBy(col("sim").desc, col("src_id"))
    val ranked = sims.withColumn("rf", row_number().over(wf))
      .withColumn("rb", row_number().over(wb))
    def sideAvg(idCol: String, rnkCol: String, as: String) =
      ranked.filter(col(rnkCol) <= kAvg)
        .groupBy(idCol)
        .agg((aggregate(array_sort(collect_list(struct(col(rnkCol), col("sim")))),
          lit(0.0), (acc, x) => acc + x.getField("sim")) / count(lit(1))).as(as))
    val wbest = Window.partitionBy("src_id").orderBy(col("margin").desc, col("tgt_id"))
    ranked.join(sideAvg("src_id", "rf", "avg_a"), "src_id")
      .join(sideAvg("tgt_id", "rb", "avg_b"), "tgt_id")
      .withColumn("margin", lit(2.0) * col("sim") / (col("avg_a") + col("avg_b")))
      .withColumn("rnk", row_number().over(wbest))
      .filter(col("rnk") === 1)
      .select(col("src_id"), col("tgt_id"),
        floor(col("margin") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("margin_micros"))
  }

  /** Dense-baseline margin mining: every src×tgt sim via a broadcast of
    * the (smaller) source side — the [[bruteForceKnn]] shape — then
    * [[marginFromSims]]. Caller bounds the source side; unbounded pairs
    * go through ANN candidates instead. */
  def marginMine(embA: DataFrame, embB: DataFrame, kAvg: Int = 4): DataFrame = {
    val a = embA.select(col("vec_id").as("src_id"), col("embedding").as("a_emb"),
      norm(col("embedding")).as("a_norm")).filter(col("a_norm") > 0)
    val b = embB.select(col("vec_id").as("tgt_id"), col("embedding").as("b_emb"),
      norm(col("embedding")).as("b_norm")).filter(col("b_norm") > 0)
    val sims = broadcast(a).join(b, expr("true"))
      .withColumn("sim", dot(col("a_emb"), col("b_emb")) /
        (col("a_norm") * col("b_norm")))
      .select("src_id", "tgt_id", "sim")
    marginFromSims(sims, kAvg)
  }

  /** Top near-duplicate pairs (i < j) by cosine, over a bounded id range
    * (caller bounds the quadratic candidate set; the scale path for
    * unbounded corpora is [[lshBuckets]] + within-bucket pairs). */
  def nearDupPairs(emb: DataFrame, topN: Int): DataFrame = {
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a"),
      norm(col("embedding")).as("n_a")).filter(col("n_a") > 0)
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b"),
      norm(col("embedding")).as("n_b")).filter(col("n_b") > 0)
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .orderBy(col("sim").desc, col("id_a"), col("id_b"))
      .limit(topN)
      .select("id_a", "id_b")
  }

  /** Embedding near-dup pairs at corpus scale — the LSH-bucketed form of
    * [[nearDupPairs]] (which is caller-bounded quadratic): candidates are
    * pairs whose LSH buckets differ in at most `probeHamming` plane
    * signs, met in an equi-join on bucket (one side explodes its probe
    * buckets, so the join key stays a plain long and the corpus is
    * never replicated), then exact cosine ≥ `minSim` verifies. Expected
    * candidate count is n²·Σ_{i≤h} C(p,i)/2^p over n vectors and p
    * planes — the caller tunes p to the corpus size. Approximate by
    * construction: a true pair landing > h plane-sign flips apart is
    * missed (AnnRecallSpec quantifies the bucket-recall tradeoff). */
  def bucketedNearDupPairs(emb: DataFrame, planes: Int, dim: Int,
                           minSim: Double, probeHamming: Int = 1): DataFrame = {
    // referenced three times below (probe side, bucket side, vector
    // lookups) — materialize buckets + norms once
    val b = Stage(lshBuckets(emb, planes, dim)
      .select(col("vec_id"), col("embedding"), col("bucket"),
        norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0))
    val masks: Seq[Long] = (0 until (1 << planes))
      .filter(m => java.lang.Integer.bitCount(m) <= probeHamming)
      .map(_.toLong)
    // the probe explode carries (id, bucket) ONLY — the 64-dim vectors
    // would otherwise be replicated once per probe mask through the
    // shuffle; they rejoin by id for the surviving candidates below
    val probes = b.select(col("vec_id").as("id_a"),
      explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*))
        .as("bucket"))
    val candIds = probes.join(
        b.select(col("vec_id").as("id_b"), col("bucket")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val va = b.select(col("vec_id").as("id_a"), col("embedding").as("e_a"),
      col("nrm").as("n_a"))
    val vb = b.select(col("vec_id").as("id_b"), col("embedding").as("e_b"),
      col("nrm").as("n_b"))
    candIds.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .withColumn("sim", dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .filter(col("sim") >= minSim)
      .select("id_a", "id_b")
  }

  /** Deterministic ±1 hyperplane weight for (plane, dim): a multiplicative
    * integer hash bit (Knuth constant), reproducible anywhere. */
  private[llm] def planeWeight(p: Int, d: Int): Double = {
    val k = (p * 1021 + d * 2039 + 1).toLong
    if (((k * 2654435761L) >> 13 & 1L) == 1L) 1.0 else -1.0
  }

  /** Johnson-Lindenstrauss ±1 random projection (Achlioptas 2003's
    * database-friendly construction): outDim dense dot products against
    * the SAME deterministic hyperplanes the LSH family hashes with —
    * [[lshBuckets]]' bucket bits are exactly the sign bits of this
    * projection (spec-asserted), so the reduced vectors and the hash
    * buckets live in one consistent geometry. Use it to shrink
    * embeddings before IVF/PQ training or brute-force rerank at scale:
    * distances are preserved to within JL distortion while the scan
    * narrows by dim/outDim. One narrow codegen'd projection per row —
    * no shuffle, scan speed at 100 TB. (Unscaled: the 1/√outDim JL
    * factor is a global constant that cancels in every cosine/ranking
    * use; apply it when absolute distances matter.) */
  def randomProject(emb: DataFrame, outDim: Int, dim: Int): DataFrame = {
    val projArr = array((0 until outDim).map { p =>
      val w = array((0 until dim).map(d => lit(planeWeight(p, d))): _*)
      dot(col("embedding"), w)
    }: _*)
    emb.select(col("vec_id"), projArr.as("proj"))
  }

  /** Random-hyperplane LSH: bucket = sign bits of `planes` dot products.
    * With P planes, 2^P buckets; neighbors by cosine tend to share
    * buckets (Charikar 2002 SimHash-for-angles). One narrow projection,
    * no shuffle. */
  def lshBuckets(emb: DataFrame, planes: Int, dim: Int): DataFrame = {
    val bucket = (0 until planes).map { p =>
      val w = array((0 until dim).map(d => lit(planeWeight(p, d))): _*)
      when(dot(col("embedding"), w) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    emb.withColumn("bucket", bucket)
  }

  /** Index-quality evaluation: per-LSH-bucket LABEL PURITY — how well
    * the bucketing respects a labeled structure (majority-label share
    * per bucket, in ppm). The eval every ANN/clustering deployment runs
    * against a labeled sample before trusting the index; here it is a
    * first-class operator over the same deterministic buckets the ANN
    * path uses. Two map-side-combined aggregates over (bucket, label) —
    * label cardinality is tiny, so this is scan-bound at any scale.
    * Ties break toward the larger label id (max-struct both engines). */
  def bucketPurity(emb: DataFrame, planes: Int, dim: Int): DataFrame =
    lshBuckets(emb, planes, dim).select(col("bucket"), col("label"))
      .groupBy("bucket", "label").agg(count(lit(1)).as("c"))
      .groupBy("bucket").agg(
        sum("c").as("n_vectors"),
        max(struct(col("c"), col("label"))).as("m"))
      .select(col("bucket"), col("n_vectors"),
        col("m.label").cast("long").as("majority_label"),
        expr("m.c * 1000000 DIV n_vectors").as("purity_ppm"))

  /** Per-table LSH buckets for `tables` INDEPENDENT hash tables — table
    * t uses plane indices t·planes … t·planes+planes−1 of the same
    * deterministic construction, so tables share nothing. Output one
    * row per (vector, table): (…, tbl, bucket). */
  def lshTableBuckets(emb: DataFrame, planes: Int, dim: Int,
                      tables: Int): DataFrame = {
    val bucketArr = array((0 until tables).map { t =>
      (0 until planes).map { p =>
        val w = array((0 until dim).map(d =>
          lit(planeWeight(t * planes + p, d))): _*)
        when(dot(col("embedding"), w) > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
    emb.select(col("vec_id"), col("embedding"),
      posexplode(bucketArr).as(Seq("tbl", "bucket")))
  }

  /** Exact-cosine verify + rank of a candidate pair set (query_id,
    * neighbor_id): candidates rejoin the raw vectors BY ID (the
    * candidate join itself never carries embeddings), score with the
    * codegen'd dot product, rank per query with deterministic
    * neighbor-id tie-break. Shared tail of every candidate-generating
    * ANN variant. */
  private def rankCandidates(cand: DataFrame, emb: DataFrame,
                             queries: DataFrame, k: Int): DataFrame = {
    val qv = broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), norm(col("embedding")).as("q_norm"))
      .filter(col("q_norm") > 0))
    val cv = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm"))
      .filter(col("c_norm") > 0)
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    cand.join(cv, Seq("neighbor_id")).join(qv, Seq("query_id"))
      .withColumn("sim",
        dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** COMPOSED multi-table × multi-probe LSH ANN — both recall knobs in
    * one operator, the configuration production ANN services actually
    * run: L independent tables, each probed at every bucket within
    * hamming distance h of the query's bucket in THAT table. Candidate
    * set = union over tables of each table's probe set — a strict
    * superset of both single-knob variants at the same L or h, so
    * recall dominates each (exact-cosine verify makes recall monotone
    * in the candidate set; AnnRecallSpec asserts the floors). Cost:
    * L·Σ_{i≤h} C(planes,i) probe buckets per query, still exploded on
    * the broadcast QUERY side only — the corpus-side table is scanned
    * once and never replicated, and the candidate join stays an
    * equi-join on (tbl, bucket). Tables grow the probe count linearly
    * (L lookups, at L× index memory) where multi-probe grows it
    * combinatorially: on the sf0.01 embeddings (6 planes, k=10,
    * h=0) recall@10 = 0.07 with one table, 0.22 with 4 tables. One
    * table is [[lshKnn]]. */
  def lshKnnComposite(emb: DataFrame, queries: DataFrame, k: Int,
                      planes: Int, dim: Int, tables: Int = 4,
                      probeHamming: Int = 1): DataFrame =
    rankCandidates(
      lshCompositeCandidates(emb, queries, planes, dim, tables, probeHamming),
      emb, queries, k)

  /** The candidate stage of [[lshKnnComposite]] alone: (query_id,
    * neighbor_id) pairs that share a bucket within `probeHamming` in ANY
    * of the L tables. Exposed so other consumers ([[marginMineAnn]]) can
    * run a different scorer over the same retrieved neighborhoods; the
    * join stays query-side-broadcast, corpus scanned once.
    *
    * `dropSelfPairs` controls the `query_id =!= neighbor_id` filter: it
    * belongs to SELF-join consumers ([[lshKnnComposite]], where query and
    * corpus are the same table and (i,i) is the degenerate self-match).
    * Cross-corpus consumers ([[marginMineAnn]]) MUST pass false: the two
    * sides have independent id namespaces, and an id-equal pair is a real
    * candidate — in bitext mining with line-numbered corpora, (i,i) is
    * often the true translation pair. */
  def lshCompositeCandidates(emb: DataFrame, queries: DataFrame,
                             planes: Int, dim: Int, tables: Int = 4,
                             probeHamming: Int = 1,
                             dropSelfPairs: Boolean = true): DataFrame = {
    val c = lshTableBuckets(emb, planes, dim, tables)
      .select(col("vec_id").as("neighbor_id"), col("tbl"), col("bucket"))
    val masks: Seq[Long] = (0 until (1 << planes))
      .filter(m => java.lang.Integer.bitCount(m) <= probeHamming)
      .map(_.toLong)
    val q = broadcast(lshTableBuckets(queries, planes, dim, tables)
      .select(col("vec_id").as("query_id"), col("tbl"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*))
          .as("bucket")))
    val joined = q.join(c, Seq("tbl", "bucket"))
    val filtered =
      if (dropSelfPairs) joined.filter(col("query_id") =!= col("neighbor_id"))
      else joined
    filtered.select("query_id", "neighbor_id").distinct()
  }

  /** Margin mining over ANN-retrieved neighborhoods — [[marginMine]]'s
    * 100 TB form. Candidates come from [[lshCompositeCandidates]]
    * (composite multi-table × multi-probe LSH, corpus scanned once, no
    * cross join anywhere); sims are computed only for candidate pairs
    * via two equi-joins; the ratio margin is then [[marginFromSims]]
    * over exactly those retrieved neighborhoods — which is how the
    * production bitext miners compute it (the k-NN averages in Artetxe
    * & Schwenk are over the RETRIEVED k, not the exact k). Agreement vs
    * exact [[marginMine]] is floor-asserted in AnnRecallSpec and rises
    * with `tables`/`probeHamming` like any composite-LSH consumer.
    * Candidates keep id-equal cross-corpus pairs (`dropSelfPairs =
    * false`): src and tgt ids are independent namespaces here. */
  def marginMineAnn(embA: DataFrame, embB: DataFrame, kAvg: Int = 4,
                    planes: Int = 6, dim: Int = 64, tables: Int = 4,
                    probeHamming: Int = 1): DataFrame = {
    val cand = lshCompositeCandidates(embB, embA, planes, dim, tables,
        probeHamming, dropSelfPairs = false)
      .select(col("query_id").as("src_id"), col("neighbor_id").as("tgt_id"))
    val a = broadcast(embA.select(col("vec_id").as("src_id"),
        col("embedding").as("a_emb"), norm(col("embedding")).as("a_norm"))
      .filter(col("a_norm") > 0))
    val b = embB.select(col("vec_id").as("tgt_id"),
        col("embedding").as("b_emb"), norm(col("embedding")).as("b_norm"))
      .filter(col("b_norm") > 0)
    val sims = cand.join(a, Seq("src_id")).join(b, Seq("tgt_id"))
      .withColumn("sim", dot(col("a_emb"), col("b_emb")) /
        (col("a_norm") * col("b_norm")))
      .select("src_id", "tgt_id", "sim")
    marginFromSims(sims, kAvg)
  }

  /** IVF (inverted-file) ANN: partition the corpus into nLists Voronoi
    * cells around deterministic centroids (the nLists lowest-id vectors —
    * seed-free), then answer queries by scanning only the nProbe nearest
    * cells. Build = one broadcast-join + rank window (each vector scores
    * nLists centroids); query = candidate join on cell id. At 100 TB the
    * cell id becomes the table's partition key, so a query touches
    * nProbe/nLists of the data. Returns (query_id, neighbor_id, rnk). */
  def ivfKnn(emb: DataFrame, queries: DataFrame, k: Int,
             nLists: Int = 16, nProbe: Int = 4): DataFrame =
    ivfSearch(emb, queries, k, nProbe,
      emb.filter(col("vec_id") < nLists)
        .select(col("vec_id").as("list_id"), col("embedding").as("cent"),
          norm(col("embedding")).as("cent_norm"))
        .filter(col("cent_norm") > 0))

  /** The shared IVF tail: corpus assigned to its nearest cell of
    * `centDf`, queries to their nProbe nearest, candidates meet in an
    * equi-join on cell id and rank by exact cosine with a
    * neighbor-id tie-break. */
  private def ivfSearch(emb: DataFrame, queries: DataFrame, k: Int,
                        nProbe: Int, centDf: DataFrame): DataFrame = {
    val corpus = assignToCells(emb, centDf, "neighbor_id", 1)
    val qs = assignToCells(queries, centDf, "query_id", nProbe)
      .select(col("query_id"), col("embedding").as("q_emb"),
        col("v_norm").as("q_norm"), col("list_id"))
    val scored = qs.join(
        corpus.select(col("neighbor_id"), col("embedding").as("c_emb"),
          col("v_norm").as("c_norm"), col("list_id")),
        Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Centroid table (list_id, cent array<double>, cent_norm) from
    * [[KMeans.train]]'s driver-side result — the broadcastable form
    * every IVF path assigns against. */
  def centroidTable(spark: org.apache.spark.sql.SparkSession,
                    cents: Seq[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(cents.map { case (cid, c) => (cid, c) })
      .toDF("list_id", "cent_d")
      .select(col("list_id"),
        col("cent_d").cast("array<double>").as("cent"))
      .withColumn("cent_norm", sqrt(dot(col("cent"), col("cent"))))
      .filter(col("cent_norm") > 0)

  /** Assign vectors to their `keep` nearest cells of a (broadcast)
    * centroid table: BNLJ against ≤ kCells rows, codegen'd dot product,
    * per-vector rank window. Norms are computed once per vector;
    * zero-norm vectors are dropped (no direction — see class doc). */
  def assignToCells(df: DataFrame, centDf: DataFrame, idAs: String,
                    keep: Int): DataFrame = {
    val scored = df.select(col("vec_id").as(idAs), col("embedding"),
        norm(col("embedding")).as("v_norm"))
      .filter(col("v_norm") > 0)
      .join(broadcast(centDf), expr("true"))
      .withColumn("c_sim", dot(col("embedding"), col("cent")) /
        (col("v_norm") * col("cent_norm")))
    val w = Window.partitionBy(idAs).orderBy(col("c_sim").desc, col("list_id"))
    scored.withColumn("c_rnk", row_number().over(w))
      .filter(col("c_rnk") <= keep)
      .select(col(idAs), col("embedding"), col("v_norm"), col("list_id"))
  }

  /** IVF over TRAINED centroids ([[KMeans.train]]) instead of the
    * seed-free lowest-id picks: cells actually follow the data
    * distribution, so probe recall per scanned fraction improves — the
    * production IVF build. Same query tail as [[ivfKnn]]. */
  def ivfKnnTrained(emb: DataFrame, queries: DataFrame, k: Int,
                    kCells: Int = 16, nProbe: Int = 4, iters: Int = 5,
                    dim: Int = 64): DataFrame =
    ivfSearch(emb, queries, k, nProbe,
      centroidTable(emb.sparkSession, KMeans.train(emb, kCells, iters, dim)))

  /** ANN top-k via LSH buckets — the scan-once/shuffle-on-bucket scale
    * path. Recall is approximate by construction (queries in sparse
    * buckets may return fewer than k).
    *
    * `probeHamming` enables MULTI-PROBE (Lv et al., VLDB 2007): each
    * query also probes every bucket within hamming distance h of its
    * own — a near neighbor that disagrees on up to h plane signs is
    * still found. Measured on the sf0.01 embeddings (64-dim, 6 planes,
    * k=10, AnnRecallSpec): recall@10 = 0.07 single-probe, 0.26 at h=1,
    * 0.56 at h=2, 0.74 at h=3 — single-probe is NOT production recall;
    * probe (or run multiple tables) at scale. These embeddings are
    * near-uniform, the hyperplane-LSH worst case; data-adaptive IVF
    * ([[ivfKnn]]: 0.80 recall at a 4/16-cell scan) is the right index
    * when the corpus has cluster structure the planes can't see. The
    * probe set is exploded on the (small) QUERY side only —
    * Σ_{i≤h} C(planes,i) buckets per query — so the candidate join
    * stays a plain equi-join on bucket and the corpus is never
    * replicated. */
  def lshKnn(emb: DataFrame, queries: DataFrame, k: Int, planes: Int, dim: Int,
             probeHamming: Int = 0): DataFrame =
    lshKnnComposite(emb, queries, k, planes, dim, tables = 1, probeHamming)

  /** kNN LABEL PROBE — the standard embedding-quality eval (linear/kNN
    * probing of representation papers): predict each query vector's
    * label by majority vote of its k nearest neighbors (ties → smallest
    * label) and report per-class accuracy. A space whose neighborhoods
    * respect labels probes high; a collapsed or noisy embedding table
    * probes at chance — run it before trusting an index or a semantic
    * dedup built on those vectors.
    *
    * Shape: [[bruteForceKnn]] over a bounded probe set (queries scan
    * the corpus once, broadcast side is the probe), one label join, a
    * probe-keyed vote window, one class-keyed aggregate. Exactness:
    * ranks are cross-engine identical (sequential-fold dots), votes and
    * accuracy are integers. */
  def knnLabelProbe(emb: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val lbl = emb.select(col("vec_id"), col("label"))
    val votes = bruteForceKnn(emb, queries, k)
      .join(lbl.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("label"))
    val pred = votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("label").as("pred_label"))
    pred.join(lbl.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "true_label"), "query_id")
      .groupBy("true_label")
      .agg(count(lit(1)).as("n"),
        count(when(col("pred_label") === col("true_label"), 1)).as("n_correct"))
      .select(col("true_label").cast("long").as("true_label"), col("n"),
        col("n_correct"),
        expr("n_correct * 1000000 DIV n").as("acc_ppm"))
  }

  /** CENTROID-DISTANCE pruning (the D4 / SSL-prototypes shape, Sorscher
    * et al. 2022): rank each vector by its squared Euclidean distance to
    * its GROUP's mean embedding, then flag the two prune candidates the
    * pruning literature uses — `is_outlier` (farthest `outlierPermille`:
    * noise/ood mass) and `is_prototype` (nearest `protoPermille`: the
    * easy redundant core that data-efficiency pruning drops). Groups
    * come from any label column (a kmeans assignment, a source, a
    * language).
    *
    * Exactness: per-dim micros (round(x·1e6), the q49 convention) sum
    * exactly per group; the distance to the MEAN clears its denominator —
    * dist2 = Σ_d (n·v_d − S_d)², n the group size, S the micros sum —
    * so ranking needs no division at all; squares accumulate in
    * DECIMAL(38,0) (oracle: HUGEINT) and the reported `dist2m` =
    * dist2 DIV n² is one integral division at the end. Ties break on
    * vec_id: cross-engine-exact output.
    *
    * Shape: one wide per-group aggregate (dim sum columns, map-side
    * combined, one row per group) broadcast back; dist2 is a narrow
    * per-row fold; the only other shuffle is the per-group rank window
    * (the q70 keep-best budget — at billions of vectors per group,
    * replace the exact rank with a dist2 threshold off
    * [[graft.operators.IncrementalAgg.histogramState]]). Envelope:
    * |n·v_d − S_d| must fit BIGINT — safe to ~10^11 rows per group at
    * micros scale. `broadcastCentroids=true` fits label/source/language
    * groupings (≤ ~10⁵ groups × dim longs); a million-cell kmeans
    * assignment should pass false — the centroid join then shuffles
    * co-partitioned with the group key. */
  def centroidOutliers(emb: DataFrame, groupCol: String = "label",
                       dim: Int = 64, outlierPermille: Int = 100,
                       protoPermille: Int = 100,
                       broadcastCentroids: Boolean = true): DataFrame = {
    val m = (0 until dim).map(i =>
      round(element_at(col("embedding"), i + 1).cast("double") * lit(1000000.0))
        .cast("long"))
    val base = Stage(emb.select(col("vec_id"), col(groupCol).as("grp"),
      array(m: _*).as("vm")))
    val sums = (0 until dim).map(i => sum(element_at(col("vm"), i + 1)).as(s"s$i"))
    val aggCols = count(lit(1)).as("n") +: sums
    val cent = base.groupBy("grp")
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("grp"), col("n"),
        array((0 until dim).map(i => col(s"s$i")): _*).as("sig"))
    val centSide = if (broadcastCentroids) broadcast(cent) else cent
    val d2 = base.join(centSide, "grp")
      .withColumn("diffs", zip_with(col("vm"), col("sig"),
        (v, s) => col("n") * v - s))
      .withColumn("dist2", aggregate(col("diffs"),
        expr("CAST(0 AS DECIMAL(38,0))"),
        (acc, x) => acc + x.cast("decimal(38,0)") * x))
      // n enters DECIMAL BEFORE squaring: BIGINT n*n wraps silently past
      // ~3.04e9 rows/group, well inside the documented envelope
      .withColumn("dist2m",
        expr("CAST(dist2 DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"))
    val w = Window.partitionBy("grp").orderBy(col("dist2").desc, col("vec_id"))
    d2.withColumn("rank_far", row_number().over(w).cast("long"))
      .withColumn("is_outlier",
        (col("rank_far") * 1000 <= col("n") * outlierPermille).cast("long"))
      .withColumn("is_prototype",
        ((col("n") - col("rank_far") + 1) * 1000 <= col("n") * protoPermille)
          .cast("long"))
      .select(col("vec_id"), col("grp").as(groupCol), col("n"),
        col("dist2m"), col("rank_far"), col("is_outlier"), col("is_prototype"))
  }

  /** LATE-INTERACTION retrieval (the ColBERT MaxSim shape, Khattab &
    * Zaharia 2020): documents and queries are BAGS of vectors (chunk /
    * token embeddings), scored
    * score(q, d) = Σ_{qc ∈ q} max_{dc ∈ d} cos(qc, dc) — each query
    * chunk finds its best-matching document chunk, so multi-topic
    * documents match on the RIGHT part where single-vector retrieval
    * averages the topics away. Exactness: max over doubles is
    * order-free; each per-query-chunk max floors to micros BEFORE the
    * sum, so the final score is an order-free integer sum — q163
    * replays it term for term.
    *
    * Shape: broadcast query chunks (query sets are bounded) against one
    * corpus-chunk scan — the q34 discipline per chunk pair; then two
    * keyed aggregates (max per (query, cand, q_chunk), sum per
    * (query, cand)) and a rank window. The corpus is never
    * self-joined; at 100 TB feed `corpusChunks` from an ANN candidate
    * fetch (probe the chunk index, semi-join the touched docs' chunks)
    * — the scoring stages are candidate-bounded either way.
    * Inputs: (doc_id, embedding) per chunk row on both sides; query
    * rows additionally carry `chunk_id` (any per-chunk discriminator).
    * Returns (query_id, cand_id, maxsim_micros, rnk). */
  def lateInteractionTopK(corpusChunks: DataFrame, queryChunks: DataFrame,
                          k: Int): DataFrame = {
    val q = broadcast(queryChunks.select(col("doc_id").as("query_id"),
        col("chunk_id").as("q_chunk"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_norm"))
      .filter(col("q_norm") > 0))
    val c = corpusChunks.select(col("doc_id").as("cand_id"),
        col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm"))
      .filter(col("c_norm") > 0)
    val sims = q.join(c, col("query_id") =!= col("cand_id"))
      .withColumn("sim",
        dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
    lateInteractionFromSims(
      sims.select("query_id", "q_chunk", "cand_id", "sim"), k)
  }

  /** MaxSim aggregation over ANY per-chunk-pair sim table — the
    * [[marginFromSims]]/[[mmrRerankFromCandidates]] discipline applied
    * to late interaction, and the 100 TB entry point: probe a CHUNK
    * index for each query chunk ([[graft.streaming.VectorIngest]]
    * `annScored` over a chunk store — its output renames straight into
    * this), semi-join the touched documents' chunks, and aggregate —
    * the full corpus-chunk scan of [[lateInteractionTopK]] becomes the
    * caller-bounded baseline. `sims` is (query_id, q_chunk, cand_id,
    * sim); a (query chunk, candidate) pair ABSENT from the table
    * contributes 0 to that candidate's sum (the retrieved-candidate
    * convention: unprobed chunk pairs score as no-match — equal to the
    * exact operator whenever the candidate fetch covers each scored
    * pair's best chunk, AnnRecallSpec). */
  def lateInteractionFromSims(sims: DataFrame, k: Int): DataFrame = {
    val best = sims.groupBy("query_id", "cand_id", "q_chunk")
      .agg(max("sim").as("mx"))
    val scored = best.groupBy("query_id", "cand_id")
      .agg(sum(floor(col("mx") * 1000000).cast("long")).as("maxsim_micros"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("maxsim_micros").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "cand_id", "maxsim_micros", "rnk")
  }

  /** k-CENTER GREEDY coreset selection (farthest-point traversal —
    * Gonzalez's 2-approximation as the data-selection pass of Sener &
    * Savarese, ICLR 2018): seed with the minimum vec_id, then
    * repeatedly select the vector whose squared Euclidean distance to
    * its NEAREST already-selected center is largest — the k points that
    * COVER the embedding space, where top-k / prototype sampling
    * concentrates picks inside dense regions and never reaches the
    * tails. Returns (step, vec_id, far_d2): far_d2 is the pick's
    * distance to the prior center set — the k-center coverage-radius
    * sequence, non-increasing under the exact greedy (the seed reads
    * −1, having no prior set).
    *
    * Exactness: per-dim micros (the [[centroidOutliers]] convention);
    * pair dist² = Σ_d (v_d − c_d)² ≤ dim·(2·10⁶)² ≈ 2.6e14 at dim 64,
    * so the whole computation is exact BIGINT and ties break on vec_id
    * — q155 statically unrolls the rounds (the q111/q148 discipline).
    *
    * Shape at 100 TB: the greedy is inherently sequential (pick i+1
    * depends on pick i), so the operator is rounds of: one NARROW
    * per-row update — `least` of the running min-distance and the
    * distance to each newly-added center, centers riding as LITERAL
    * arrays (no join, no shuffle) — plus one top-`perRound` reduce
    * (orderBy.limit — per-partition partial top-k, never a global
    * sort), with a lineage-truncating [[Stage]] per round so round i
    * never replays rounds 0..i−1. `perRound` is the standard batched
    * amortization for large k (take the B farthest per round, accepting
    * intra-batch redundancy — the recorded far_d2 of picks 2..B in a
    * round is relative to the round-START set); perRound=1 is the exact
    * greedy the oracle replays. */
  def kCenterGreedy(emb: DataFrame, k: Int, dim: Int = 64,
                    perRound: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(perRound >= 1, s"perRound must be >= 1, got $perRound")
    val spark = emb.sparkSession
    val m = (0 until dim).map(i =>
      round(element_at(col("embedding"), i + 1).cast("double") * lit(1000000.0))
        .cast("long"))
    def d2To(center: Array[Long]): Column =
      aggregate(
        zip_with(col("vm"), array(center.map(lit): _*), (v, c) => v - c),
        lit(0L), (acc, x) => acc + x * x)
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var state = Stage(emb.select(col("vec_id").cast("long").as("vec_id"),
      array(m: _*).as("vm")))
    val seedRows = state.orderBy("vec_id").limit(1).collect()
    if (seedRows.isEmpty) {
      import spark.implicits._
      return picks.toSeq.toDF("step", "vec_id", "far_d2")
    }
    val seed = seedRows(0)
    picks += ((1L, seed.getLong(0), -1L))
    state = Stage(state.filter(col("vec_id") =!= seed.getLong(0))
      .withColumn("min_d2", d2To(seed.getSeq[Long](1).toArray)))
    var step = 1L
    var exhausted = false
    while (picks.size < k && !exhausted) {
      val take = math.min(perRound, k - picks.size)
      val rows = state.orderBy(col("min_d2").desc, col("vec_id"))
        .limit(take).select("vec_id", "min_d2", "vm").collect()
      if (rows.isEmpty) exhausted = true
      else {
        rows.foreach { r =>
          step += 1; picks += ((step, r.getLong(0), r.getLong(1)))
        }
        val ids = rows.map(_.getLong(0))
        val newMin = rows.map(r => d2To(r.getSeq[Long](2).toArray))
          .foldLeft(col("min_d2"))((acc, d) => least(acc, d))
        state = Stage(state.filter(!col("vec_id").isin(ids: _*))
          .withColumn("min_d2", newMin))
      }
    }
    import spark.implicits._
    picks.toSeq.toDF("step", "vec_id", "far_d2")
  }
}
