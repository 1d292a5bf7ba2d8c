package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.DotProduct.dot_product

/** Product Quantization (PQ) — the memory-bound ANN path for corpus-
  * scale embedding search (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011): the D-dim vector splits into
  * `m` subspaces of D/m dims, each subspace trains its own `ksub`-cell
  * codebook ([[KMeans]] — deterministic, seed-free), and a vector is
  * stored as m small codes. At 64-dim float → 8 codes, a 32× compression:
  * a 100 TB float corpus becomes ~3 TB of codes that fit an executor
  * fleet's memory, which is the entire point.
  *
  * Query scoring is ADC (asymmetric distance computation): the QUERY
  * side precomputes, per subspace, the table of squared distances from
  * its sub-vector to every centroid — m·ksub doubles computed ONCE per
  * query before the candidate join (they ride the broadcast) — and a
  * candidate's approximate distance is just m table lookups summed, not
  * a D-dim dot product. |q_sub|² terms are per-query constants summing
  * to |q|², so they drop out of the per-query ranking exactly like the
  * norm in [[KMeans]]' assignment.
  *
  * Deterministic end to end (codebooks, argmin tie-break on lower cell
  * id, rank tie-break on neighbor id) — spec-tested for recall against
  * brute force; no SQL oracle (centroids are trained artifacts, like
  * [[Similarity.ivfKnnTrained]]).
  */
object ProductQuantizer {

  /** Per-subspace codebooks: cents(s) = [[KMeans.train]] output over the
    * s-th sub-vector slice. */
  case class Codebook(m: Int, ksub: Int, subDim: Int,
                      cents: Seq[Seq[(Long, Array[Double])]])

  def train(emb: DataFrame, m: Int = 8, ksub: Int = 16, iters: Int = 5,
            dim: Int = 64): Codebook = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    // the m sub-quantizers are INDEPENDENT k-means problems over
    // disjoint column slices — train them concurrently, 8 at a time
    // (Spark's scheduler interleaves the per-iteration jobs), so
    // codebook training wall time is ~one sub-training, not m of them.
    // Deterministic regardless: each subspace's result depends only on
    // its own slice. The input is staged once so the m trainings do
    // not re-run its lineage m times.
    val staged = Stage(emb.select("vec_id", "embedding"))
    val books = graft.operators.Concurrently.run((0 until m).map { s =>
      () => KMeans.train(staged.select(col("vec_id"),
        slice(col("embedding"), s * subDim + 1, subDim).as("embedding")),
        ksub, iters, subDim)
    }, width = 8)
    Codebook(m, ksub, subDim, books)
  }

  /** Encode every vector as its m nearest-centroid cell ids:
    * (vec_id, codes: Array[Long]). Below [[KMeans.LiteralBudget]]
    * codebook doubles (m·ksub·subDim = ksub·dim) the centroids inline
    * as literals — narrow expression, scan speed, no shuffle, the table
    * a PQ pipeline persists in place of the raw vectors. Above it
    * (production ksub=256 on dim≥1024) the literal tree would blow up
    * the analyzer, so encoding switches to per-subspace broadcast-join
    * assignment ([[encodeJoin]]); both paths are bit-identical
    * (ProductQuantizerSpec). */
  def encode(emb: DataFrame, cb: Codebook): DataFrame =
    if (cb.m.toLong * cb.ksub * cb.subDim <= KMeans.LiteralBudget)
      encodeLiteral(emb, cb)
    else encodeJoin(emb, cb)

  private[graft] def encodeLiteral(emb: DataFrame, cb: Codebook): DataFrame = {
    val codeCols = (0 until cb.m).map { s =>
      val sub = slice(col("embedding"), s * cb.subDim + 1, cb.subDim)
      val scored = cb.cents(s).map { case (cid, c) =>
        val cArr = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(c.map(lit)): _*)
        val cc = c.map(x => x * x).sum
        struct((lit(cc) - lit(2.0) * dot_product(sub, cArr)).as("score"),
          lit(cid).as("cell"))
      }
      array_min(array(scored: _*)).getField("cell")
    }
    emb.select(col("vec_id"), array(codeCols: _*).as("codes"))
  }

  /** Scale path: each subspace assigns via [[KMeans.assignJoin]]
    * (broadcast centroid rows, never literals), codes reassembled by
    * vec_id equi-joins. m keyed joins instead of one narrow scan — the
    * price of keeping ksub·dim doubles out of the expression tree. */
  private[graft] def encodeJoin(emb: DataFrame, cb: Codebook): DataFrame =
    (0 until cb.m).map { s =>
      val sub = emb.select(col("vec_id"),
        slice(col("embedding"), s * cb.subDim + 1, cb.subDim).as("embedding"))
      KMeans.assignJoin(cb.cents(s))(sub)
        .select(col("vec_id"), col("cell").as(s"__c$s"))
    }.reduce(_.join(_, Seq("vec_id")))
      .select(col("vec_id"),
        array((0 until cb.m).map(s => col(s"__c$s")): _*).as("codes"))

  /** ADC top-k by approximate squared L2 distance: `coded` is the
    * [[encode]] output (the corpus the cluster actually holds), queries
    * bring raw vectors. Returns (query_id, neighbor_id, rnk). */
  def adcTopK(coded: DataFrame, queries: DataFrame, cb: Codebook,
              k: Int): DataFrame = {
    // distance tables, once per query row, broadcast with the queries
    val withTables = (0 until cb.m).foldLeft(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))) {
      (df, s) =>
        val qSub = slice(col("q_emb"), s * cb.subDim + 1, cb.subDim)
        val table = array(cb.cents(s).map { case (_, c) =>
          val cArr = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(c.map(lit)): _*)
          lit(c.map(x => x * x).sum) - lit(2.0) * dot_product(qSub, cArr)
        }: _*)
        df.withColumn(s"t$s", table)
    }
    val q = broadcast(withTables.drop("q_emb"))
    val pairs = q.join(
      coded.select(col("vec_id").as("neighbor_id"), col("codes")),
      col("query_id") =!= col("neighbor_id"))
    // candidate cost: m lookups + adds — never a D-dim dot product
    val score = (0 until cb.m).map { s =>
      element_at(col(s"t$s"),
        element_at(col("codes"), s + 1).cast("int") + 1)
    }.reduce(_ + _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("neighbor_id"))
    pairs.withColumn("adc_dist", score)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** IVFADC — the billion-scale composition (FAISS's IVF,PQ index,
    * Jégou et al. 2011): coarse [[KMeans]] cells bound the SCAN (a
    * query touches ~nProbe/kCells of the codes), PQ codes bound the
    * MEMORY (the corpus lives as cell id + m codes). Query: exact
    * assignment to the nProbe nearest cells (kCells centroid scores —
    * tiny), then ADC over only the probed cells' codes via an equi-join
    * on cell id, then exact re-rank of the shortlist against raw
    * vectors. This variant codes RAW vectors with one shared codebook
    * (IVF-Flat-PQ) rather than per-cell residuals — cheaper to train
    * and good enough when cells are many; residual coding is the
    * natural extension. Returns (query_id, neighbor_id, rnk). */
  def ivfAdcTopK(emb: DataFrame, queries: DataFrame, k: Int,
                 kCells: Int = 16, nProbe: Int = 4, m: Int = 8,
                 ksub: Int = 16, iters: Int = 3, dim: Int = 64,
                 shortlist: Int = 50): DataFrame = {
    val cells = KMeans.train(emb, kCells, iters, dim)
    val cb = train(emb, m, ksub, iters, dim)
    // corpus: cell id + codes — the only corpus-sized table ADC touches
    val coded = KMeans.assign(emb, cells)
      .join(encode(emb, cb), Seq("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
    // queries: nProbe nearest cells by exact L2 (|q|² drops from argmin)
    val cellScores = cells.map { case (cid, c) =>
      val cArr = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(c.map(lit)): _*)
      struct((lit(c.map(x => x * x).sum)
        - lit(2.0) * dot_product(col("q_emb"), cArr)).as("score"),
        lit(cid).as("cell"))
    }
    val qCells = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("probe", slice(array_sort(array(cellScores: _*)), 1, nProbe))
      .select(col("query_id"), col("q_emb"),
        explode(col("probe").getField("cell")).as("cell"))
    val withTables = (0 until cb.m).foldLeft(qCells) { (df, s) =>
      val qSub = slice(col("q_emb"), s * cb.subDim + 1, cb.subDim)
      val table = array(cb.cents(s).map { case (_, c) =>
        val cArr = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(c.map(lit)): _*)
        lit(c.map(x => x * x).sum) - lit(2.0) * dot_product(qSub, cArr)
      }: _*)
      df.withColumn(s"t$s", table)
    }
    val q = broadcast(withTables.drop("q_emb"))
    val score = (0 until cb.m).map { s =>
      element_at(col(s"t$s"),
        element_at(col("codes"), s + 1).cast("int") + 1)
    }.reduce(_ + _)
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("neighbor_id"))
    val cand = q.join(coded, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", score)
      .withColumn("arnk", row_number().over(wAdc))
      .filter(col("arnk") <= shortlist)
      .select("query_id", "neighbor_id")
    // exact re-rank of the shortlist only
    val qv = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val cv = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"))
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("l2_part").asc, col("neighbor_id"))
    cand.join(cv, Seq("neighbor_id")).join(qv, Seq("query_id"))
      .withColumn("l2_part",
        dot_product(col("c_emb"), col("c_emb"))
          - lit(2.0) * dot_product(col("q_emb"), col("c_emb")))
      .withColumn("rnk", row_number().over(wExact).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** ADC shortlist + exact re-rank — the production PQ query: codes
    * shortlist `shortlist` candidates per query (cheap, code-table
    * only), then ONLY those rows re-join the raw vectors for an exact
    * L2 rank. The corpus-sized vector table is touched for
    * queries·shortlist rows, not scanned per query — at 32×
    * compression the fleet holds codes in memory and pages in raw
    * vectors for the shortlist alone. Measured on sf0.01 (8×16 codes,
    * shortlist 50): recall@10 = 0.325 ADC-only → see
    * ProductQuantizerSpec for the re-ranked floor. */
  def adcTopKReranked(coded: DataFrame, queries: DataFrame, emb: DataFrame,
                      cb: Codebook, k: Int, shortlist: Int = 50): DataFrame = {
    val cand = adcTopK(coded, queries, cb, shortlist)
      .select("query_id", "neighbor_id")
    val qv = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val cv = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"))
    // |q|² is constant per query → rank by |c|² − 2·q·c
    val w = Window.partitionBy("query_id")
      .orderBy(col("l2_part").asc, col("neighbor_id"))
    cand.join(cv, Seq("neighbor_id")).join(qv, Seq("query_id"))
      .withColumn("l2_part",
        dot_product(col("c_emb"), col("c_emb"))
          - lit(2.0) * dot_product(col("q_emb"), col("c_emb")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }
}
