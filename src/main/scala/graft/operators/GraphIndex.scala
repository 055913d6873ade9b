package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The bucket-blocked KNN graph and the one walk over it: the HNSW
  * family (Malkov & Yashunin '16) — greedy descent, ef-beam,
  * hierarchical entry and tombstone-aware serving — as one operator.
  *
  * Frames: vectors are (id, qv) with `qv` quantized, plus `bucket` where
  * a graph is built; edges are (src_id, dst_id); queries are
  * (query_id, query_v); a frontier is (query_id, nid); a delete set is
  * (dead_id).
  *
  * Scale shape of a walk step: the O(Q·ef) frontier broadcasts against
  * the streaming edge scan, candidates join their vectors by id, and the
  * native top-k cut keeps ef per query. A query batch costs
  * O(steps·Q·ef·k) distance evaluations, independent of N.
  */
object GraphIndex {

  /** Steps per walk (per layer in [[layeredWalk]]). */
  val Steps = 3

  /** Out-degree of the built graph. */
  val Degree = 3

  private lazy val planes = LshIndex.quantizePlanes(
    LshIndex.hyperplanes(dim = 64, nPlanes = 6, seed = 42L))

  /** (vec_id, embedding) → (id, qv, bucket): quantized vectors keyed by
    * their 6-plane, seed-42 LSH bucket (v10's planes, so the DuckDB twin
    * folds identical literals). */
  def bucketed(vecs: DataFrame, scale: Int = DefaultScale): DataFrame =
    vecs.select(col("vec_id").cast("long").as("id"),
        quantize(col("embedding"), scale).as("qv"))
      .withColumn("bucket", LshIndex.bucketKeyQ(col("qv"), planes))

  /** Level `level` of the hierarchy: the vectors with
    * portableHash(id) % 5^level = 0 (v9's portable split, so both engines
    * sample the same layer). Levels nest: a level-2 member is a level-1
    * member. */
  def layer(vecs: DataFrame, level: Int): DataFrame =
    if (level == 0) vecs
    else vecs.filter(
      Sampling.portableHash(col("id")) % math.pow(5, level).toInt === 0)

  /** Every same-bucket (src, dst) pair with distinct ids, scored with
    * exact integer L2: (src_id, dst_id, d2). Candidate volume is
    * Σ bucket², linear in N for a fixed bucket count, and the join
    * shuffles once on the bucket key. */
  def bucketPairs(src: DataFrame, dst: DataFrame): DataFrame =
    src.as("x").join(dst.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") =!= col("y.id"))
      .select(col("x.id").as("src_id"), col("y.id").as("dst_id"),
        intL2Sq(col("x.qv"), col("y.qv")).cast("double").as("d2"))

  /** The ranked bucket-blocked KNN graph over `vecs`:
    * (src_id, rnk, dst_id, d2), the [[Degree]] nearest bucket mates per
    * source. Vectors alone in their bucket emit no edges. */
  def knnGraph(vecs: DataFrame): DataFrame =
    TopK.perGroup(bucketPairs(vecs, vecs), "src_id", "dst_id", "d2",
      Degree, ascending = true)

  /** One step's candidates: the frontier ∪ its out-neighbours. With a
    * delete set, a dead neighbour also contributes its own neighbours
    * (the one-hop bypass), so a walk neither stops at nor strands on a
    * tombstone; dead candidates drop out when [[score]] joins them to
    * the alive vectors. The delete set is joined against the broadcast
    * neighbour frame, never broadcast itself: it is data-sized.
    * Duplicates are kept; the top-k cut collapses them. */
  def expand(frontier: DataFrame, edges: DataFrame,
             tombs: Option[DataFrame] = None): DataFrame = {
    def hop(from: DataFrame): DataFrame = broadcast(from)
      .join(edges, col("nid") === col("src_id"))
      .select(col("query_id"), col("dst_id").as("nid"))
    val nbrs = hop(frontier)
    tombs match {
      case None => frontier.unionAll(nbrs)
      case Some(t) =>
        val deadN = t.join(broadcast(nbrs), col("dead_id") === col("nid"))
          .select(col("query_id"), col("nid"))
        frontier.unionAll(nbrs).unionAll(hop(deadN))
    }
  }

  /** Candidates (query_id, nid) joined to their vectors and queries by
    * id: (query_id, nid, d2) with d2 the exact integer squared L2. */
  def score(cand: DataFrame, queries: DataFrame,
            vecs: DataFrame): DataFrame =
    cand.join(vecs.select(col("id").as("nid"), col("qv").as("nv")), "nid")
      .join(queries, "query_id")
      .select(col("query_id"), col("nid"),
        intL2Sq(col("nv"), col("query_v")).cast("double").as("d2"))

  /** The [[Steps]]-step ef-beam from `frontier0`: each step expands the
    * whole frontier, scores it and keeps the ef best per query by
    * (d2, nid). The frontier stays in its own candidate set, so the best
    * distance never increases. `ef = 1` is the greedy descent: a
    * candidate with a NULL vector has a NULL d2 and is never kept. Each
    * non-final step's cut is checkpointed, because the next step reads
    * it twice (union and edge join) and the plan would double per step.
    * Checkpointing only step 2, and letting ReusedExchange collapse the
    * doubled step-1 subtree, measured slower in interleaved solo probes
    * (BENCH_opt14_solo_probes.json). Returns the final ranked frontier
    * (query_id, rnk, nid, d2). */
  def walk(frontier0: DataFrame, queries: DataFrame, vecs: DataFrame,
           edges: DataFrame, ef: Int,
           tombs: Option[DataFrame] = None): DataFrame = {
    var frontier = frontier0
    var ranked: DataFrame = null
    for (step <- 1 to Steps) {
      ranked = TopK.perGroupDistinct(
        score(expand(frontier, edges, tombs), queries, vecs),
        "query_id", "nid", "d2", ef, ascending = true)
      if (step < Steps) ranked = ranked.localCheckpoint(false)
      frontier = ranked.select(col("query_id"), col("nid"))
    }
    ranked
  }

  /** Hierarchical serve: `layers` are (vecs, edges) from the top layer
    * down to layer 0. A greedy ef = 1 [[walk]] runs on every upper
    * layer, its winner (checkpointed) entering the layer below, and the
    * ef-beam runs on layer 0. With a delete set, every layer walks it
    * and `layers` hold alive vectors only. */
  def layeredWalk(entry: DataFrame, queries: DataFrame,
                  layers: Seq[(DataFrame, DataFrame)], ef: Int,
                  tombs: Option[DataFrame] = None): DataFrame = {
    val seed = layers.init.foldLeft(entry) { case (frontier, (v, e)) =>
      walk(frontier, queries, v, e, ef = 1, tombs)
        .select(col("query_id"), col("nid")).localCheckpoint(false)
    }
    val (v0, e0) = layers.last
    walk(seed, queries, v0, e0, ef, tombs)
  }
}
