package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Duplicate-cluster resolution — the step AFTER pair finding. MinHash /
  * n-gram / SimHash emit near-dup PAIRS; keep-one-per-group dedup needs the
  * transitive closure of those pairs (A~B, B~C ⇒ {A,B,C} is one cluster)
  * and a canonical representative per cluster. This is connected
  * components over the pair graph.
  *
  * Implementation: iterative min-label propagation — every node starts
  * labeled with itself; each round, every node adopts the minimum label
  * among itself and its neighbors; fixpoint = every node carries its
  * component's minimum node id. Each round is ONE equi-join of the edge
  * list against the label table plus one aggregate — all hash shuffles on
  * node id, no driver-side graph state ever (the driver sees only the
  * one-row convergence check). Rounds needed = graph diameter; dup
  * clusters are near-cliques (diameter ≤ ~3), so this converges in 2–4
  * rounds where a general-graph algorithm (large-star/small-star) would
  * pay its constant factors for nothing.
  *
  * Scale notes: every round's label table is an eager `localCheckpoint`
  * and the previous round is released, so cached DATA stays one round
  * deep and each round's plan starts from a leaf — the plan an action
  * renders is O(1) in the round count, not a nest of every earlier
  * round's cached plan (deep chain graphs converge instead of OOM-ing
  * plan rendering; exercised to depth 33 in ClustersSpec, and over a
  * long store history in PairStoreSpec). Hitting `maxIter` without a fixpoint
  * throws — a truncated closure would silently under-merge clusters and
  * let duplicates through.
  */
object Clusters {

  /** Connected components over `nodes` with undirected `edges`.
    *
    * @param nodes   one row per node (isolated nodes allowed — they
    *                become singleton clusters)
    * @param edges   pair rows; direction and duplicates don't matter
    * @param pairsCanonical caller's guarantee that `edges` holds each
    *                unordered pair AT MOST ONCE (one direction only, as
    *                every verified pair table here does: strict
    *                `id_a < id_b` plus a distinct). Skips the symmetric
    *                closure's dedup exchange — the union of a canonical
    *                pair set with its reversal cannot contain
    *                duplicates, so the `distinct()` was a full
    *                edge-sized shuffle for nothing (guide §2.4 "a
    *                `distinct` on data that is already unique").
    *                Duplicate edges would not change any label (min over
    *                a multiset), only per-round cost — so a wrong claim
    *                degrades speed, never the closure.
    * @return (nodeCol, cluster_id) — cluster_id = min node id reachable
    *         from the node, so ids are stable, deterministic, and
    *         partition-invariant.
    */
  def connectedComponents(
      nodes: DataFrame,
      edges: DataFrame,
      nodeCol: String,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 25,
      shortcut: Boolean = false,
      pairsCanonical: Boolean = false
  ): DataFrame =
    connectedComponentsWithRounds(
      nodes, edges, nodeCol, srcCol, dstCol, maxIter, shortcut,
      pairsCanonical)._1

  /** [[connectedComponents]] plus the number of propagation rounds the
    * fixpoint took — the convergence observable (a monitoring hook in
    * production, and the testable claim behind shortcut mode: pointer
    * jumping must close a diameter-D chain in O(log D) rounds where
    * plain propagation needs D). */
  def connectedComponentsWithRounds(
      nodes: DataFrame,
      edges: DataFrame,
      nodeCol: String,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 25,
      shortcut: Boolean = false,
      pairsCanonical: Boolean = false
  ): (DataFrame, Int) = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    val (labels, rounds) =
      edgeTouchedLabels(nodes, edges, nodeCol, srcCol, dstCol, maxIter,
        shortcut, pairsCanonical)
    // uncached entry point: the persisted label table is released after the
    // caller first materializes the closure
    (graft.AutoUnpersist.afterFirstUse(
      finishLabels(nodes, nodeCol, labels), labels), rounds)
  }

  /** Per-JVM cache of EDGE-TOUCHED label tables, keyed by the node/edge
    * plans' canonicalized hashes: the closure is the expensive part of
    * every keep-one-per-cluster pipeline, and downstream consumers
    * (cluster report, collapsed corpus, survivor join) all need the SAME
    * labels. Production pipelines persist this intermediate once and fan
    * out; the cache is that shape across separately-issued queries. The
    * persisted payload is the edge-touched subgraph only — O(dup-pair
    * endpoints), the same working set the iteration itself must hold,
    * never the corpus — and it spills (MEMORY_AND_DISK). Bounded LRU with
    * unpersist on evict; see [[graft.PlanCache]]. */
  private val ccCache =
    new graft.PlanCache[DataFrame](capacity = 16, onEvict = graft.PlanCache.unpersist)

  /** [[connectedComponents]] through the per-JVM cache — use when several
    * queries consume one closure. Identical output, computed once. */
  def connectedComponentsShared(
      nodes: DataFrame,
      edges: DataFrame,
      nodeCol: String,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 25,
      pairsCanonical: Boolean = false
  ): DataFrame = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    // pairsCanonical is NOT part of the key: it never changes the labels,
    // only whether the symmetric closure pays a dedup exchange
    val key = graft.PlanCache.keyOf2(nodes, edges, nodeCol, srcCol, dstCol)
    val labels = ccCache.getOrCompute(key,
      edgeTouchedLabels(nodes, edges, nodeCol, srcCol, dstCol, maxIter,
        shortcut = false, pairsCanonical = pairsCanonical)._1)
    finishLabels(nodes, nodeCol, labels)
  }

  /** Singleton rejoin: nodes outside the edge-touched subgraph become
    * their own cluster. */
  private def finishLabels(
      nodes: DataFrame, nodeCol: String, labels: DataFrame): DataFrame =
    nodes.select(col(nodeCol).as("_node"))
      .join(labels.select(col("_node"), col("_label")), Seq("_node"), "left")
      .select(col("_node").as(nodeCol),
        coalesce(col("_label"), col("_node")).as("cluster_id"))

  /** The label-propagation fixpoint over the edge-touched subgraph plus
    * the round count it took; the returned frame stays persisted
    * (callers either unpersist it or cache it for reuse — see
    * [[connectedComponentsShared]]). */
  private def edgeTouchedLabels(
      nodes: DataFrame,
      edges: DataFrame,
      nodeCol: String,
      srcCol: String,
      dstCol: String,
      maxIter: Int,
      shortcut: Boolean,
      pairsCanonical: Boolean
  ): (DataFrame, Int) = {
    val nodeSet = nodes.select(col(nodeCol).as("_node"))
    // Symmetric closure of the edge list; self-loops never change a label.
    // Persisted PRE-PARTITIONED on _dst, the key of every round's
    // edge×label join: the cached layout satisfies the join's
    // distribution requirement, so each round shuffles only the (much
    // smaller) label table — the edge list, the loop's biggest input,
    // crosses the wire once instead of once per round. Canonical pair
    // inputs (strict a<b, deduped — every verified pair table here) skip
    // the dedup exchange: their symmetric union cannot hold duplicates.
    val symRaw = edges
      .select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
      .union(edges.select(col(dstCol).as("_src"), col(srcCol).as("_dst")))
      .filter(col("_src") =!= col("_dst"))
    val sym = (if (pairsCanonical) symRaw else symRaw.distinct())
      .repartition(col("_dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Iterate ONLY over nodes that touch an edge: an isolated node can
    // neither change nor influence a label, and in a dedup corpus the
    // pair-touched subgraph is a sliver of the corpus — the per-round
    // label state is O(edge endpoints), not O(nodes). Singletons rejoin
    // as their own cluster at the end. Endpoints outside the node set
    // stay UNLABELED, which drops them from both round joins — the same
    // edges-restricted-to-nodes contract as labeling the full node set.
    var labels = nodeSet
      .join(sym.select(col("_src").as("_node")).distinct(),
        Seq("_node"), "left_semi")
      .select(col("_node"), col("_node").as("_label"),
        lit(false).as("_changed"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Eager: ONE job materializes the symmetric-closure cache (sym sits
    // under this plan) and the initial labels BEFORE round 1 runs.
    // Left lazy, round 1's two branches (neighbor-min join and the
    // propagation join) launch concurrently and RACE to compute sym —
    // each re-running the whole upstream pair pipeline (the probe showed
    // the shingle/verify chain twice per closure query).
    labels.count()
    var converged = false
    var iter = 0
    // try/finally: a mid-loop job failure or the non-convergence throw
    // below must not leave the round table (or sym) pinned in executor
    // storage for the session — only a CONVERGED labels table survives,
    // and that one is the return value
    try {
    while (!converged && iter < maxIter) {
      // min label among each node's neighbors, joined back onto the node.
      // The round's change flag rides along in the same projection, so the
      // convergence check is a filter over the (already persisted) round
      // output — no second join per round.
      val minNbr = sym
        .join(labels, col("_dst") === col("_node"))
        .groupBy(col("_src"))
        .agg(min(col("_label")).as("_nbr_min"))
      val prop = labels
        .join(minNbr, col("_node") === col("_src"), "left")
        .select(col("_node"),
          least(col("_label"), coalesce(col("_nbr_min"), col("_label")))
            .as("_label"),
          (coalesce(col("_nbr_min"), col("_label")) < col("_label"))
            .as("_changed"))
      // Pointer jumping (shortcut mode): additionally hop to the LABEL's
      // own previous-round label — l'(v) = lab_t(min(lab_t(v), nbr-min)).
      // Both reads are against the persisted round-t table (classic
      // synchronous pointer jumping), so the extra lookup is one more
      // equi-join per round, and label distances collapse exponentially:
      // rounds drop from O(diameter) to O(log diameter). Worth the extra
      // join on chain-shaped graphs (entity-resolution typo chains);
      // pure overhead on near-clique dedup graphs (diameter ≤ ~3), hence
      // opt-in. Labels stay within the component (every label is a
      // component node's id), so the fixpoint is unchanged.
      val stepped =
        if (!shortcut) prop
        else {
          val lookup = labels
            .select(col("_node").as("_ln"), col("_label").as("_ll"))
          prop.join(lookup, col("_label") === col("_ln"), "left")
            .select(col("_node"),
              least(col("_label"), coalesce(col("_ll"), col("_label")))
                .as("_label"),
              (col("_changed") ||
                (coalesce(col("_ll"), col("_label")) < col("_label")))
                .as("_changed"))
        }
      // EVERY round references `labels` twice (the neighbor-min join and
      // the propagation join; shortcut adds a third via the jump lookup),
      // so persisted lineage grows exponentially per round (2^d plain,
      // 3^d shortcut) — a logical plan that stalls ANALYSIS long before
      // data is the problem: every round's QueryExecution re-walks the
      // whole tree, and with the pair pipeline as the base relation even
      // 3^4 copies measured as a 7 s → 60 s entity_resolve regression
      // when shortcut briefly switched to lazy persist. An eager
      // localCheckpoint truncates lineage to a LEAF each round (the
      // checkpointed RDDs are reclaimed by the ContextCleaner once
      // unreferenced), in both modes: a persisted round's cached plan is
      // rendered inside the next round's plan description, so even the
      // few rounds of a near-clique closure nested each store write's
      // plan string inside the next one until the driver heap ran out.
      val next = stepped.localCheckpoint(true)
      // Convergence via a FULL aggregate, not isEmpty: isEmpty short-
      // circuits at the first changed row, which left the lazily-
      // persisted round table PARTIALLY cached — the next round's 2–3
      // references then recomputed the uncached partitions through the
      // whole persisted chain (3^rounds re-derivations of the pair
      // pipeline in shortcut mode; measured 7 s → 57 s on entity_resolve
      // when shortcut switched to lazy persist with isEmpty). The
      // max-aggregate scans every partition, so ONE job materializes the
      // complete round cache and answers convergence together; the
      // converged final round scanned everything under isEmpty anyway.
      val changedRow = next.agg(max(col("_changed"))).head()
      converged = changedRow.isNullAt(0) || !changedRow.getBoolean(0)
      labels.unpersist()
      labels = next
      iter += 1
    }
    } finally {
      sym.unpersist(blocking = false)
      if (!converged) labels.unpersist(blocking = false)
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "component diameter exceeds maxIter; raise it")
    (labels, iter)
  }

  /** Quality-priority survivor selection: given labeled rows (idCol +
    * cluster_id, e.g. a [[connectedComponents]] join), keep ONE id per
    * cluster — the row with the maximal `scoreCol`, ties to the SMALLEST
    * id (deterministic, partition-invariant). This is what production
    * dedup actually ships: min-id collapse ([[graft.Ext]]
    * `dedup_collapse`) keeps an arbitrary representative; keep-best
    * keeps the longest/cleanest duplicate. One per-cluster top-1 window
    * (score desc, id asc) — the tie-break works for ANY orderable id
    * type, where the previous `max_by(struct(score, -id))` trick
    * required a NEGATABLE id (string ids failed analysis, Long.MinValue
    * overflowed under ANSI negation). */
  def keepBestPerCluster(
      labeled: DataFrame,
      idCol: String,
      scoreCol: String
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    labeled
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col(idCol))
  }
}
