package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate CLUSTERING: turning pairwise near-dup edges (from
  * MinHash/SimHash/embedding LSH) into connected components, so a
  * dedup pipeline can keep ONE canonical document per cluster instead
  * of per pair. The reference engine has no graph surface; this is
  * part of the LLM-pipeline extension (transitive dedup is how
  * production corpus dedup actually works — A~B, B~C must collapse to
  * one cluster even when A!~C).
  *
  * Algorithm: iterative min-label propagation expressed as DataFrame
  * joins — each round every node adopts the smallest component id seen
  * on any incident edge. Rounds needed = graph diameter, and near-dup
  * graphs are dense clumps with tiny diameters (pairs all share
  * content), so 3-5 rounds is typical. Each round is one shuffle join
  * + one shuffle aggregate on (node) — both partition by the same key,
  * so AQE coalesces them tightly.
  *
  * Scale notes (100 TB):
  *   - The edge set is the OUTPUT of LSH dedup — orders of magnitude
  *     smaller than the corpus. The iteration cost is proportional to
  *     edges, not documents; singleton documents never enter the loop
  *     and are unioned back at the end with comp = own id (no join).
  *   - Lineage is cut per round (localCheckpoint) — without it the
  *     plan doubles every iteration and the optimizer chokes by round
  *     ~10. On a real cluster use `spark.cleaner.referenceTracking`
  *     defaults; localCheckpoint keeps blocks on executors, no DFS
  *     round trip.
  *   - Convergence is detected with `sum(comp)`: labels only ever
  *     decrease, so an unchanged sum IS the fixpoint — one cheap
  *     action per round, no row-wise diff join.
  *   - For adversarial diameters (long chains) the alternating
  *     large-star/small-star algorithm converges in O(log²) rounds;
  *     near-dup graphs never look like that, so the simpler loop wins.
  */
object ClusterOps {

  /** Eagerly localCheckpoint `df` and return the storage blocks the
    * checkpoint pinned, so the caller can free them the moment the
    * generation is superseded. `Dataset.unpersist` cannot do this (it
    * only talks to the cache manager; checkpoint blocks are plain
    * persisted RDDs below it) and the ContextCleaner only frees them
    * on GC of the RDD reference — which a long driver process may
    * never trigger. The pinned RDD is read off the RETURNED dataset's
    * own plan (localCheckpoint yields a `LogicalRDD` wrapping exactly
    * the persisted internal RDD) — never by diffing the JVM-global
    * persistent-RDD map, which under concurrent queries would capture
    * ANOTHER query's blocks and later unpersist them (fatal for
    * lineage-truncated checkpoint blocks, not just slow). */
  private def checkpointTracked(df: DataFrame)
      : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    val out = Checkpoints.cut(df)
    val pinned = org.apache.spark.sql.graftbridge.Bridge.analyzed(out) match {
      case r: org.apache.spark.sql.execution.LogicalRDD => Seq(r.rdd)
      case _ => Seq.empty // future Spark plan-shape change: fall back to
        // GC-driven cleanup rather than guessing at global state
    }
    (out, pinned)
  }

  /** [[checkpointTracked]] that ALSO returns sum(comp) over the
    * checkpointed rows, computed by an `observe` metric riding the
    * checkpoint's own materialization job (round-13, guide §1.2/§2:
    * the separate `labelSum` action per round doubled the loop's job
    * count — the fixpoint check is a fold over rows the checkpoint
    * job already streams, so CollectMetrics accumulates it for free).
    * `localCheckpoint(eager)` runs through `Dataset.withAction`, which
    * fires QueryExecutionListeners — the ObservationManager among them
    * — so `obs.get` returns without scheduling anything; the explicit
    * [[org.apache.spark.sql.graftbridge.Bridge.fireObservations]] is
    * belt-and-braces for a future Spark that materializes checkpoints
    * outside withAction (completion is idempotent). None = zero rows
    * (sum over an empty frame is SQL NULL), same contract as the old
    * `labelSum`.
    *
    * The metric is read with the NON-blocking
    * [[org.apache.spark.sql.graftbridge.Bridge.observationMetrics]]
    * (round-14, ADVICE r13): AQE can prune the CollectMetrics node
    * with an empty-relation subtree, in which case the observation
    * never completes — the blocking `obs.get` would then hang the
    * driver forever on the explicitly-supported empty-edge-set path.
    * A missing/empty metric row means zero observed rows, the same
    * empty-frame answer as SQL's NULL sum. */
  private def checkpointTrackedSum(df: DataFrame)
      : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]], Option[(Long, Long)]) = {
    val obs = org.apache.spark.sql.Observation()
    // the row count rides the same fold (round-14): it sizes the
    // label table for the loop's broadcast decision at zero cost
    val watched = df.observe(obs, sum(col("comp")).as("s"),
      count(lit(1)).as("n"))
    val (out, pinned) = checkpointTracked(watched)
    org.apache.spark.sql.graftbridge.Bridge
      .fireObservations(watched, "ccRoundSum", 0L)
    val m = org.apache.spark.sql.graftbridge.Bridge.observationMetrics(obs)
    val s = m.get("s").flatMap(Option(_)).map(_.asInstanceOf[Long])
    val n = m.get("n").flatMap(Option(_)).map(_.asInstanceOf[Long])
    (out, pinned, s.map(sv => (sv, n.getOrElse(0L))))
  }

  /** Bytes of one (node, comp) label row as an UnsafeRow: an 8-byte
    * null bitset plus two 8-byte longs. The CC loop's broadcast guard
    * sizes the label table with it against Spark's own
    * `spark.sql.autoBroadcastJoinThreshold`. */
  private val LabelRowBytes = 24L

  /** Connected components over an undirected edge list.
    *
    * @param edges  DataFrame with two id columns (one row per edge)
    * @param srcCol / dstCol edge endpoint columns (numeric ids)
    * @param maxIter hard round cap; throws if not converged (a
    *                non-converged label set is silently WRONG — at
    *                scale, raise the cap, don't drop the check)
    * @return (node, comp) — comp is the smallest node id in the
    *         component; only nodes that appear in `edges`.
    *
    * When the label table is broadcast-sized, every round is planned
    * AQE-off with a broadcast hint ([[org.apache.spark.sql.graftbridge
    * .Bridge.nonAdaptive]]); the caller's session confs are never
    * changed, so a concurrent query in the same session keeps its own.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20): DataFrame = {
    // symmetrize once; labels propagate in both directions
    val (sym, symBlocks) = checkpointTracked(
      edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))
        .union(edges.select(col(dstCol).cast("long").as("src"),
          col(srcCol).cast("long").as("dst")))
        .distinct())

    // sum over ZERO rows is SQL NULL — an empty edge set (a normal
    // input for incremental pipelines on a quiet day) means the empty
    // label frame is already the fixpoint. The sum rides the
    // checkpoint job itself (checkpointTrackedSum): one job per round,
    // not two — at any scale the fixpoint check is a fold over rows
    // the materialization already streams.
    var (labels, labelBlocks, firstSum) = checkpointTrackedSum(
      sym.select(col("src").as("node")).distinct()
        .withColumn("comp", col("node")))
    if (firstSum.isEmpty) {
      symBlocks.foreach(_.unpersist(blocking = false))
      return labels
    }
    var lastSum = firstSum.get._1
    // Round-14 (guide §3.1/§2, the p28 find): under AQE every round's
    // eager checkpoint decomposes into one materialization job per
    // exchange (~6 jobs/round measured on p28's 14-round loop — 82
    // jobs, ~5 s of pure scheduling at sf0.1 on 907 edges). The
    // round's inputs are LogicalRDD leaves with no stats, so AQE-off
    // alone re-plans the sym⋈labels join as sort-merge (the round-13
    // negative result). Fix BOTH at once when the label table is
    // provably broadcast-sized: its exact row count rides the
    // convergence observation (zero cost), and when those rows fit
    // Spark's own broadcast threshold (never when it is -1) every
    // round runs AQE-OFF with an EXPLICIT broadcast hint on the labels
    // side — one scheduled job per round instead of ~6, same broadcast
    // join shape AQE picked, bit-identical labels (join strategy and
    // partitioning cannot change an exact min aggregation). Otherwise
    // (a 100 TB corpus's label table) AQE plans every round. Node
    // count is loop-constant, so the decision is made once. The
    // AQE-off rounds are planned by Bridge.nonAdaptive, which never
    // writes the caller's session confs; each round's convergence
    // observation rides the checkpoint job in the caller's session.
    val threshold = edges.sparkSession.sessionState.conf
      .autoBroadcastJoinThreshold
    val bcastLabels =
      threshold >= 0 && firstSum.get._2 * LabelRowBytes <= threshold
    val parts = math.max(1, labelBlocks.headOption
      .map(_.getNumPartitions).getOrElse(1))
    var converged = false
    var iter = 0
    // Round-13 note (negative result, superseded by the guarded form
    // above): running this loop AQE-free with derived shuffle
    // partitions and NO hint was measured SLOWER (m13 2.8→4.6 s at
    // sf0.1) because the per-round sym⋈labels join lost its runtime
    // BROADCAST (LogicalRDD leaves carry no stats ⇒ sort-merge). The
    // explicit hint under the size guard restores exactly the join
    // AQE picked; above the guard AQE stays on unchanged.
    while (!converged && iter < maxIter) {
      // neighbor's label flows across each edge; keep the min of
      // (own label, best neighbor label, own label's label).
      //
      // Round-13 negative result, kept for the record: a
      // two-hop-per-round variant (propagate, aggregate, propagate
      // again, checkpoint — halving the round count to
      // ceil(diameter/2)+1) measured strictly WORSE at sf0.1 (p14
      // 2.0→2.9 s / 26→32 jobs, p66 3.7→5.2 s / 44→63 jobs, m13
      // 3.0→4.0 s): hop-1's aggregate subtree is NOT deduplicated by
      // AQE exchange reuse inside one round's plan (it feeds both the
      // union and the second join, with fresh exprIds after self-join
      // dedup), so each round paid ~2× the stages while near-dup
      // diameters are too small (3-5 hops) for the halved round count
      // to amortize it. One EDGE hop per round stays.
      //
      // Round-14 THIRD negative result, kept for the record: POINTER
      // JUMPING on the label table (union a labels⋈labels comp[comp]
      // branch into the round — each node also adopts its label's
      // label) is exact (every candidate is a label of a node in the
      // same component; monotone; same fixpoint) and compresses
      // label-forward chains at doubling rate — a 64-node PATH
      // converges in 8 rounds instead of 63. But the near-dup gates'
      // graphs are not paths: label chains toward the min only form
      // along already-traversed edge paths, so on p28's near-threshold
      // random graph (907 edges, the suite's longest-diameter CC
      // input) it saved just 2 of 14 rounds while paying +2 jobs per
      // round (82 → 108 jobs, wall flat-to-worse). Edge-hop
      // propagation IS the binding constraint; one hop per round
      // stays.
      val labSide = if (bcastLabels) broadcast(labels) else labels
      val viaEdges = sym.join(labSide, sym("src") === labSide("node"))
        .select(sym("dst").as("node"), col("comp"))
      val round = labels.union(viaEdges)
        .groupBy("node").agg(min("comp").as("comp"))
      val (next, nextBlocks, sumOpt) = checkpointTrackedSum(
        if (bcastLabels)
          org.apache.spark.sql.graftbridge.Bridge.nonAdaptive(round, parts)
        else round)
      // non-empty from here (guarded above): the union keeps at least
      // the label rows, so a missing metric is a completion-mechanism
      // failure, not an empty frame — fail loudly, never silently
      // converge on it
      val s = sumOpt.getOrElse(throw new IllegalStateException(
        "connectedComponents: convergence-sum observation did not " +
          "complete on a non-empty label frame"))._1
      converged = s == lastSum // labels are monotone non-increasing
      lastSum = s
      // `next` is materialized (eager checkpoint), so the previous
      // generation's blocks are dead weight from here — free them NOW,
      // not at GC: a 100 TB run iterating 5 rounds would otherwise
      // hold 5 label generations in executor storage at once
      labelBlocks.foreach(_.unpersist(blocking = false))
      labelBlocks = nextBlocks
      labels = next
      iter += 1
    }
    // the edge set is dead once the fixpoint is reached; the FINAL
    // label generation must stay pinned (the caller's query reads it —
    // its lineage is truncated, so freeing it here would be fatal, not
    // slow). Harnesses sweep it between queries via
    // SparkEntry.resetSessionConfs.
    symBlocks.foreach(_.unpersist(blocking = false))
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIter rounds " +
        "(graph diameter exceeds the cap; raise maxIter)")
    labels
  }

  /** Dedup clustering over a full document set: every document gets a
    * cluster id (connected-component min over the near-dup edges;
    * documents in no pair are their own singleton cluster), a
    * `keep` flag (true for the cluster's canonical = smallest id), and
    * the cluster size. The big `docs` side is joined once against the
    * small component map — broadcast-sized in practice, but left to
    * AQE to decide. */
  def dedupClusters(
      docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol, maxIter)
    val labeled = docs.select(col(idCol).cast("long").as("node"))
      .join(comps, Seq("node"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("comp"), col("node")).as("comp"))
    labeled
      .withColumn("cluster_size",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("comp")))
      .withColumn("keep", col("doc_id") === col("comp"))
  }

  /** INCREMENTAL connected components: fold a Δ batch's near-dup
    * edges into yesterday's component map without re-running the
    * closure over the whole corpus — the graph analogue of the
    * p30/p35 Δ-vs-index screens. The iteration touches only the
    * components the Δ actually reaches:
    *
    *   1. components touched = prior components owning an endpoint of
    *      some new edge (one semi-join of the |prior| map against the
    *      Δ endpoint set — Δ-proportional output),
    *   2. those components are re-expressed as STAR edges
    *      (member → canonical id): connectivity-equivalent to the
    *      original intra-component edge set but |members| edges, not
    *      |original pairs| — the prior closure is reused, never
    *      re-derived,
    *   3. connected components runs over (star ∪ Δ) — a subgraph
    *      proportional to the Δ and the clusters it touches, never
    *      the corpus,
    *   4. untouched prior rows pass through with one anti-join.
    *
    * At 100 TB the prior map is id-bucketed storage; steps 1/4 are
    * bucket-local joins and step 3's input is tiny. Requires prior
    * labels in canonical min-id form (what [[dedupClusters]] and
    * [[connectedComponents]] produce) — min-label propagation then
    * yields exactly the labels a full recompute over
    * (prior edges ∪ Δ edges) would, because a star preserves its
    * component's connectivity and contributes the same member-id set
    * to the min.
    *
    * @param prior   (node, comp) map — comp = smallest member id
    * @param newEdges Δ near-dup pairs (endpoints may be new nodes,
    *                 prior nodes, or both)
    * @return (node, comp) covering every prior node and every Δ
    *         endpoint; Δ nodes in no surviving component label
    *         themselves (singleton semantics, as in dedupClusters)
    */
  def incrementalComponents(
      prior: DataFrame, newEdges: DataFrame,
      srcCol: String, dstCol: String, maxIter: Int = 20): DataFrame = {
    val p = prior.select(col("node").cast("long").as("node"),
      col("comp").cast("long").as("comp"))
    val delta = newEdges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val deltaNodes = delta.select(col("src").as("node"))
      .union(delta.select(col("dst").as("node"))).distinct()
    val touched = p.join(deltaNodes, Seq("node"), "left_semi")
      .select(col("comp")).distinct()
    // star edges: member -> canonical for touched components only
    // (self-edges are redundant — the canonical node reaches itself)
    val star = p.join(touched, Seq("comp"), "left_semi")
      .filter(col("node") =!= col("comp"))
      .select(col("node").as("src"), col("comp").as("dst"))
    val rec = connectedComponents(star.unionAll(delta), "src", "dst",
      maxIter)
    // Δ endpoints with no edge into anything (possible when the caller
    // passes a pre-filtered pair set) are covered: every Δ endpoint is
    // in `delta`, hence in `rec`. Untouched prior rows pass through.
    val untouched = p.join(touched, Seq("comp"), "left_anti")
    untouched.select(col("node"), col("comp")).unionAll(rec)
  }
}
