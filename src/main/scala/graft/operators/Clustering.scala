package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph clustering over near-duplicate pair sets — the step a dedup
  * pipeline runs after pair generation: group pairwise-similar docs into
  * components and keep one representative per component. (The reference
  * pipeline stops at pairwise hits; this is the standard production
  * follow-on, e.g. the MinHash-cluster stage of web-scale dedup.)
  */
object Clustering {

  /** Connected components: assign every node the MINIMUM node id
    * reachable in the undirected pair graph.
    *
    * Iterative min-label propagation on DataFrames, with two r14
    * structural properties (guide §2.4 — remove shuffles/fan-out):
    *
    * 1. SELF-LOOP-CLOSED edge list: `(v, v)` rows for every node ride
    *    the checkpointed edge frame, so one propagation step is
    *    `edges ⋈ labels → groupBy(dst).min` — the labels frame is
    *    referenced ONCE per step (the previous join-back shape
    *    referenced it twice, so a 3-step round planned 2³ copies of
    *    the round input and ~21 exchanges; this shape plans one copy
    *    and 2 exchanges per step). The self-loop row is also what
    *    carries each node's own label into the min (no left-join +
    *    coalesce) and, on a round's last step, its PRE-step label out
    *    of the same aggregate (the convergence flag below).
    *
    * 2. POINTER JUMPING from round 2 on: `label(v) <- label(label(v))`
    *    between edge steps. Labels are always ids of same-component
    *    nodes (invariant: initially own id; an edge step takes a min
    *    over member labels; a jump reads a member's label), so a jump
    *    is monotone non-increasing and stays inside the component —
    *    the fixpoint is untouched, but long chains collapse
    *    exponentially instead of 3-hops-per-round (the classic
    *    hash-to-min acceleration): round 1 = [e,e,e] (a diameter-≤2
    *    dedup near-clique still converges AND proves it in one
    *    action), rounds ≥2 = [e,j,e,j,e]. A diameter-18 mutual-KNN
    *    graph converges in 2–3 materialized rounds where plain
    *    3-step rounds needed 6.
    *
    * Convergence is detected on the round's LAST step alone: labels
    * are monotone non-increasing, so "the last edge step changed
    * nothing" means every node's label already equals the min over its
    * closed neighborhood — labels are constant along edges, hence
    * constant per component, hence equal to the component min (the
    * min-id node's label can never drop below its own id). The flag is
    * a column (`cluster_id < cid0`) computed inside the last step's
    * aggregate, and the ONLY Spark action per round is the count that
    * materializes the round's `localCheckpoint` (plan-lineage
    * truncation; on a real cluster: `checkpoint()` to reliable
    * storage). The only driver-side values are per-round counters,
    * never data rows.
    *
    * Returns (id, cluster_id) for every input node; singletons keep
    * their own id.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          nodes: DataFrame, idCol: String,
                          maxIter: Int = 20): DataFrame = {
    val nodeIds = nodes.select(col(idCol).cast("long").as("id"))
    val edges = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .union(pairs
        .select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
      .union(nodeIds.select(col("id").as("src"), col("id").as("dst")))
      .localCheckpoint() // pair generation runs ONCE, not once per round
    var labels = nodeIds
      .select(col("id"), col("id").as("cluster_id"))
      .localCheckpoint()
    // One min-propagation step over the self-loop-closed edge list:
    // min over the closed neighborhood {v} ∪ N(v). `withPrev` also
    // emits the node's PRE-step label (the self-loop row carries it)
    // so a round's last step yields the convergence flag from the
    // same aggregate.
    def step(l: DataFrame, withPrev: Boolean = false): DataFrame = {
      val joined = edges.join(l, col("src") === col("id"))
      val aggCols =
        min("cluster_id").as("cluster_id") +:
          (if (withPrev)
             Seq(min(when(col("src") === col("dst"), col("cluster_id")))
               .as("cid0"))
           else Nil)
      joined.groupBy(col("dst"))
        .agg(aggCols.head, aggCols.tail: _*)
        .withColumnRenamed("dst", "id")
    }
    // Pointer jump: label <- label(label). Exactly one match per row
    // (every label IS a node id present in `l`).
    def jump(l: DataFrame): DataFrame = l
      .join(l.select(col("id").as("jid"), col("cluster_id").as("jcid")),
        col("cluster_id") === col("jid"))
      .select(col("id"), col("jcid").as("cluster_id"))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // Round 1 = [e,e,e]; rounds ≥2 = [e,j,e,j,e]. One lazy plan per
      // round, materialized by the convergence count — one Spark
      // action per round.
      val body =
        if (iter == 0) step(step(labels))
        else jump(step(jump(step(labels))))
      val next = step(body, withPrev = true)
        .withColumn("chg", col("cluster_id") < col("cid0"))
      val ckpt = next.localCheckpoint(false)
      val changed = ckpt.filter(col("chg")).count()
      labels = ckpt.select(col("id"), col("cluster_id"))
      converged = changed == 0L
      iter += 1
    }
    // fail loudly: exhausting the budget means the labels are NOT a
    // fixpoint — returning them would silently fracture clusters. Each
    // round advances ≥3 edge-hops (jumps only accelerate), so 3*maxIter
    // propagation steps ≥ graph diameter is still the guard.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter rounds " +
        s"(≥${3 * maxIter} propagation steps); raise maxIter for " +
        "graphs of larger diameter")
    labels
  }
}
