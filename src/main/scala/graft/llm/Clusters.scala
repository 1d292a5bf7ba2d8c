package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: collapse a pair list (near-duplicate
  * edges from MinHash/SimHash/Jaccard verification) into connected
  * components, so each cluster keeps one canonical representative —
  * the final step of every large-scale dedup pipeline (the pair list
  * says "a≈b"; training-set construction needs "keep min(cluster)").
  *
  * Algorithm: min-label propagation WITH pointer doubling — each round
  * a node takes the min over (its label, its neighbors' labels, its
  * label's label). The third term halves the remaining path length, so
  * a chain of diameter d converges in O(log d) rounds instead of O(d)
  * (the same round-compression as Kiveris et al., "Connected Components
  * in MapReduce and Beyond"). Each round is two equi-joins + one
  * aggregate on the EDGE LIST ONLY — corpus size never enters the loop,
  * so at 100 TB the cost is bounded by the number of duplicate pairs,
  * not documents.
  *
  * Every round truncates lineage with [[Stage]] (localCheckpoint by
  * default): `persist` is NOT enough — it caches execution but the
  * LOGICAL plan still nests the whole history, and with labels
  * referenced ~4× per round the analyzer re-walks a 4^r tree
  * (observed: the driver hung in analysis after ~6 rounds with zero
  * jobs running). At cluster scale set [[Stage.ReliableConf]] (plus a
  * checkpoint dir) to swap every round to reliable `checkpoint` —
  * same semantics, executor-loss-safe.
  */
object Clusters {

  /** edges: (id_a, id_b) undirected, any orientation, dupes ok.
    * Returns (doc_id, cluster_id) for every node in at least one edge,
    * cluster_id = min node id reachable.
    *
    * ADAPTIVELY FRONTIER-RESTRICTED rounds: labels only ever DECREASE,
    * and a node's candidate set is (own label, neighbors' labels, its
    * label's label) — all of which were folded in the round that
    * produced them. So a node can improve THIS round only if a
    * neighbor's label, its pointer target's label, or its own label
    * changed LAST round; the union of those three is the frontier.
    * Building that frontier costs two semi-joins + a distinct + a
    * materialization — which only pays once the changed set is SMALL.
    * On a dense small-diameter graph that converges in 2–3 rounds the
    * changed set never shrinks before convergence, and unconditional
    * restriction does strictly more work than the plain loop (round 0's
    * frontier is by definition the whole graph). So each round picks:
    * while |changed| ≥ ½·|nodes| run UNRESTRICTED (no frontier build at
    * all — dense/early rounds); once the changed set drops below half,
    * switch to frontier-restricted joins so late-round cost tracks the
    * still-converging tail (the early-freeze form of Kiveris et al.'s
    * optimization, gated the way their "large-star only while large"
    * phase split gates work). Convergence = empty changed set, read off
    * the already-staged merge — no extra probe join.
    *
    * SMALL-GRAPH / SMALL-TAIL LOCAL FINISH: the distributed loop's cost
    * floor is jobs-per-round (joins + a checkpoint + a count), which
    * dwarfs the data cost once the graph — or the still-converging
    * remainder of it — is small. Production CC does what we do here:
    * iterate distributed while big, finish in memory once bounded.
    * (a) If the whole (deduped, directed) edge list has ≤ 2·
    * `maxLocalEdges` rows, skip the loop: collect it (≤ ~16 MB at the
    * default) and union-find on the driver. (b) Mid-loop, once the
    * changed set is small, contract every edge by its endpoints'
    * CURRENT labels — label(id) is always in id's component (inductive:
    * initial label = least(id, min nbr); every later candidate is a
    * label from the same component), so the label-quotient of a
    * connected component is connected and its min label is the min
    * member id. If the contracted graph fits the same bound, collect
    * it, union-find, and broadcast the rep map back onto the labels —
    * replacing ALL remaining O(log d) rounds with one bounded collect.
    * Both collects are gated by an exact count ≤ threshold first, so
    * driver memory stays bounded by `maxLocalEdges`, never data size.
    *
    * `roundTrace(round, frontierSize)`, when non-null, observes each
    * distributed round's effective frontier cardinality (|nodes| on
    * unrestricted rounds — every node is a candidate; the materialized
    * frontier's count on restricted ones). Instrumentation for
    * specs/ops dashboards; the default null adds zero actions beyond
    * the one convergence count per round. Local-finish paths run no
    * distributed rounds and emit no trace (set `maxLocalEdges = 0` to
    * force the distributed loop, as the frontier specs do). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
                          roundTrace: (Int, Long) => Unit = null,
                          maxLocalEdges: Long = 1L << 19): DataFrame = {
    val spark = edges.sparkSession
    val adjPlan = edges.select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"))
      .union(edges.select(col("id_b").cast("long").as("src"),
        col("id_a").cast("long").as("dst")))
      .distinct()
    // ONE bounded action decides local-vs-distributed AND, in the local
    // case, IS the collect union-find needs (round 16): the former
    // persist + count + collect spent two actions (and a cache round
    // trip) on the same decision. take() stops fetching once the bound
    // is crossed, so driver memory stays bounded by maxLocalEdges
    // exactly as the count gate bounded it; a result shorter than the
    // bound is by construction the COMPLETE edge list. An over-bound
    // graph pays one partial scan, then persists for the loop below.
    val takeBound =
      if (maxLocalEdges >= (Int.MaxValue.toLong - 8) / 2) Int.MaxValue - 8
      else (2 * maxLocalEdges + 1).toInt
    val taken = adjPlan.take(takeBound)
    // length < takeBound is what proves completeness — a result that
    // FILLED the bound may be truncated (reachable only when the Int
    // cap clamps takeBound below 2·maxLocalEdges+1) and must route to
    // the distributed loop, never to union-find over a partial list
    if (taken.length < takeBound && taken.length <= 2 * maxLocalEdges)
      return localComponents(spark,
        taken.map(r => (r.getLong(0), r.getLong(1))))
    val adj = adjPlan.persist()
    var labels = Stage(adj.groupBy("src").agg(min("dst").as("nbr"))
      .select(col("src").as("id"), least(col("src"), col("nbr")).as("label")))
    val nNodes = labels.count()
    // round 0: every node's label just changed (from "itself" to the
    // initial min) — the first frontier is the whole graph, as it must
    // be, so round 0 always runs unrestricted
    var changed = labels.select("id")
    var changedCnt = nNodes
    var lastCollapseTry = Long.MaxValue
    var it = 0
    while (changedCnt > 0 && it < maxIter) {
      // small-tail collapse: once the changed set is bounded, contract
      // every edge by its endpoints' current labels; if the quotient
      // graph fits the driver bound, finish with one collect +
      // union-find + broadcast rep-map join instead of the remaining
      // rounds. Re-attempted only after the changed set halves again,
      // so a too-big quotient costs at most one extra pass per halving.
      if (changedCnt <= maxLocalEdges && changedCnt * 2 < lastCollapseTry) {
        lastCollapseTry = changedCnt
        val la = labels.select(col("id").as("src"), col("label").as("la"))
        val lb = labels.select(col("id").as("dst"), col("label").as("lb"))
        val contracted = adj.join(la, Seq("src")).join(lb, Seq("dst"))
          .filter(col("la") =!= col("lb"))
          .select(col("la"), col("lb")).distinct().persist()
        if (contracted.count() <= 2 * maxLocalEdges) {
          val reps = unionFind(
            contracted.collect().map(r => (r.getLong(0), r.getLong(1))))
          import spark.implicits._
          val repDf = reps.toSeq.toDF("label", "rep")
          val out = labels.join(broadcast(repDf), Seq("label"), "left")
            .select(col("id").as("doc_id"),
              coalesce(col("rep"), col("label")).as("cluster_id"))
          contracted.unpersist()
          adj.unpersist()
          return out
        }
        contracted.unpersist()
      }
      val restrict = changedCnt * 2 < nNodes
      // restricted rounds join only frontier-adjacent labels/edges:
      // nodes whose candidates moved because a neighbor changed, their
      // pointer target changed, or their own label changed (its new
      // target's label is a candidate never folded before)
      val (fLabels, fAdj) =
        if (!restrict) {
          if (roundTrace != null) roundTrace(it, nNodes)
          (labels, adj)
        } else {
          val frontier = Stage(
            adj.join(changed.select(col("id").as("dst")), Seq("dst"), "left_semi")
              .select(col("src").as("id"))
              .union(labels.join(changed.select(col("id").as("label")),
                Seq("label"), "left_semi").select("id"))
              .union(changed.select("id"))
              .distinct())
          if (roundTrace != null) roundTrace(it, frontier.count())
          (labels.join(frontier, Seq("id"), "left_semi"),
            adj.join(frontier.select(col("id").as("src")), Seq("src"), "left_semi"))
        }
      // neighbors' labels, (frontier) sources only
      val viaEdges = fAdj.join(labels, fAdj("dst") === labels("id"))
        .select(fAdj("src").as("id"), col("label"))
      // pointer doubling: label(label(id))
      val l2 = labels.select(col("id").as("pid"), col("label").as("plabel"))
      val viaPtr = fLabels.join(l2, fLabels("label") === l2("pid"))
        .select(fLabels("id"), col("plabel").as("label"))
      val cand = fLabels.select("id", "label")
        .union(viaEdges).union(viaPtr)
        .groupBy("id").agg(min("label").as("new_label"))
      // ONE staged merge per round feeds next round's labels AND the
      // changed set (a cheap filter re-read of the staged frame — no
      // second checkpoint), AND the convergence count
      val merged = Stage(labels.join(cand, Seq("id"), "left")
        .select(col("id"), col("label"),
          coalesce(col("new_label"), col("label")).as("nl")))
      labels = merged.select(col("id"), col("nl").as("label"))
      changed = merged.filter(col("nl") < col("label")).select("id")
      changedCnt = changed.count()
      it += 1
    }
    val out = labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
    adj.unpersist()
    out
  }

  /** Driver-side union-find with path compression + min-rep union:
    * rep(x) = min id reachable from x. Input is a BOUNDED edge array
    * (callers gate on an exact count ≤ maxLocalEdges first). */
  private def unionFind(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    // ITERATIVE find: the local-finish paths admit up to ~1M collected
    // nodes at the default maxLocalEdges, and chain-shaped near-dup
    // components (path graphs) drive a recursive find to O(n) depth —
    // a driver StackOverflowError where the distributed loop succeeds.
    // Walk to the root, then a second pass compresses the whole path.
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    nodes.iterator.map(x => x -> find(x)).toMap
  }

  /** (doc_id, cluster_id) DataFrame from a bounded local edge array. */
  private def localComponents(spark: SparkSession,
                              edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    unionFind(edges).toSeq.toDF("doc_id", "cluster_id")
  }

  /** INCREMENTAL component maintenance: fold a batch of NEW edges into
    * an existing (doc_id, cluster_id) label table without touching the
    * historical edge list — the streaming form of dedup-cluster upkeep
    * (pairs arrive batch-by-batch from [[Dedup.dedupIncremental]]-style
    * ingest; recomputing CC over all history per batch is the
    * anti-pattern this kills).
    *
    * Correctness by contraction: every existing component is connected,
    * so collapsing it to its representative preserves the connectivity
    * of (old ∪ new) — run CC over the REP-MAPPED new edges only, then
    * push the merged labels back onto the old table. Cost is bounded by
    * the new-edge batch + the labels it touches (the CC loop sees only
    * rep-mapped edges; the label update is one equi-join), never by
    * history size. mergeComponents(cc(E1), E2) == cc(E1 ∪ E2) for any
    * split — CorpusOpsSpec proves it on randomized graphs. */
  def mergeComponents(labels: DataFrame, newEdges: DataFrame): DataFrame = {
    val l = labels.select(col("doc_id").cast("long").as("id"),
      col("cluster_id").cast("long").as("rep"))
    // map each endpoint of each new edge to its existing rep (ids never
    // seen before rep themselves); intra-cluster edges collapse to
    // self-loops and drop
    val e = newEdges.select(col("id_a").cast("long").as("a"),
      col("id_b").cast("long").as("b"))
    val mapped = e
      .join(l.select(col("id").as("a"), col("rep").as("ra")), Seq("a"), "left")
      .join(l.select(col("id").as("b"), col("rep").as("rb")), Seq("b"), "left")
      .select(coalesce(col("ra"), col("a")).as("id_a"),
        coalesce(col("rb"), col("b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    // CC over the contracted graph: nodes are old reps + brand-new ids.
    // Every old member id ≥ its rep (rep = min member), so the min over
    // merged reps IS the min over all merged members — labels stay the
    // global min id of their component.
    val repCc = connectedComponents(mapped)
      .select(col("doc_id").as("rep"), col("cluster_id").as("new_rep"))
    val updatedOld = l.join(repCc, Seq("rep"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("new_rep"), col("rep")).as("cluster_id"))
    // ids first seen in this batch: in the contracted CC but not in the
    // old label table (old reps are themselves labeled member ids)
    val newIds = repCc.select(col("rep").as("doc_id"),
        col("new_rep").as("cluster_id"))
      .join(l.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
    updatedOld.unionByName(newIds)
  }
}
