package graft.operators

import graft.functions.VectorFunctions._
import graft.plans.{KnnMetric, KnnScan}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch exact K-nearest-neighbour join — the Spark-first twin of the
  * reference's `IndexFlatL2.search` (faiss_utils.py:19-22), generalized
  * from one query vector to a query *set*. The only code that ranks
  * candidates by exact integer L2, through two entry points:
  *
  *  - a gallery against a broadcast query set (`knnL2`, `knnL2Pre`,
  *    `knnDot`, `knnCosine`) runs on one [[graft.plans.KnnScanExec]];
  *  - candidates a routing join already paired (an IVF probe, an LSH
  *    bucket, a label filter) go to [[rankPairs]].
  *
  * `StreamingOps.knnStream` is the one exception: its query side is the
  * stream and its gallery is static, while the scan broadcasts the
  * queries, so it keeps the crossjoin into [[TopK.perGroup]].
  *
  * Scan plan shape: the quantized queries are broadcast. Each gallery
  * task decodes the query matrix once, scores its partition in blocks
  * of 128 rows and keeps a bounded top-k per query, so only Q·k rows
  * leave a partition — no (query, gallery) pair becomes a row. One
  * register-tiled kernel scores 4 gallery rows × 4 queries per pass and
  * serves all three metrics: it takes the integer dot g·q, and L2
  * follows as ‖g‖² + ‖q‖² − 2·g·q from norms taken once per block and
  * once per query set (the same integer, mod 2⁶⁴, as Σ(g − q)²). The
  * dot runs in `double` arithmetic when D · max|g| · max|q| ≤ 2⁵³ for
  * the block, so every product and partial sum is an integer a double
  * holds exactly; a block past that bound falls back to the same tile
  * in wrapping `long` arithmetic. Scores, ranks, lowest-id ties and
  * NaN-last are those of the pair-at-a-time integer scan on every
  * input.
  * [[TopK.perGroup]] then merges the partitions' rows per query (rank
  * order, lowest-id ties, NaN last), a shuffle of O(Q·k·partitions).
  */
object KnnJoin {

  /** Exact top-k by L2 distance on quantized vectors.
    *
    * @param gallery (idCol: Long, vecCol: array<numeric>)
    * @param queries (qidCol: Long, vecCol: array<numeric>)
    * @return (query_id, rnk, neighbor_id, dist) — dist on the original
    *         (unquantized) scale.
    */
  def knnL2(gallery: DataFrame, queries: DataFrame, idCol: String,
            vecCol: String, qidCol: String, k: Int,
            scale: Int = DefaultScale): DataFrame =
    withDist(scan(KnnMetric.L2, gallery, queries, idCol, vecCol, qidCol, k,
      quantize(_, scale)), scale)

  /** [[knnL2]] over PRE-QUANTIZED integer vectors (array<long>): skips
    * the quantize pass, the entry point for code/SQ8 spaces where
    * vectors are already integers.
    *
    * @param scale the fixed-point scale the integers ALREADY carry
    *              (dist is reported on the original scale) */
  def knnL2Pre(gallery: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, qidCol: String, k: Int,
               scale: Int = 1): DataFrame =
    withDist(scan(KnnMetric.L2, gallery, queries, idCol, vecCol, qidCol, k,
      identity), scale)

  /** Exact top-k by INNER PRODUCT (MIPS — the faiss IndexFlatIP
    * metric): largest dot product wins, ties to lowest id. The integer
    * dot is exact and the single division back to the original scale is
    * one IEEE op. */
  def knnDot(gallery: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, qidCol: String, k: Int,
             scale: Int = DefaultScale): DataFrame =
    scan(KnnMetric.Dot, gallery, queries, idCol, vecCol, qidCol, k,
        quantize(_, scale))
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        (col("score") / lit(scale.toDouble * scale)).as("dot"))

  /** Exact top-k by cosine similarity on quantized vectors; a zero-norm
    * vector scores NaN and ranks last. */
  def knnCosine(gallery: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, qidCol: String, k: Int,
                scale: Int = DefaultScale): DataFrame =
    scan(KnnMetric.Cosine, gallery, queries, idCol, vecCol, qidCol, k,
        quantize(_, scale))
      .withColumnRenamed("score", "cos_sim")

  /** Exact top-k by L2 over already-joined candidates: one
    * (query_id, neighbor_id, gv, qv) row per pair, both vectors
    * quantized at `scale`. Scores the exact integer ‖gv − qv‖² and ranks
    * each query's candidates as the scan does (lowest id on ties, a NULL
    * vector skipped); a query keeps fewer than k rows when it has fewer
    * candidates.
    * @return (query_id, rnk, neighbor_id, dist) */
  def rankPairs(cand: DataFrame, k: Int, scale: Int = DefaultScale): DataFrame =
    TopK.perGroup(cand.select(col("query_id"), col("neighbor_id"),
        intL2Sq(col("gv"), col("qv")).cast("double").as("d2")),
      "query_id", "neighbor_id", "d2", k, ascending = true)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        distFromIntSq(col("d2"), scale).as("dist"))

  /** (query_id, rnk, neighbor_id, score): the blocked scan, then the
    * per-query merge of its partitions' rows. Callers that need the
    * exact integer score rather than `dist` call it directly. */
  private[graft] def scan(metric: KnnMetric, gallery: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, qidCol: String, k: Int,
                          vec: Column => Column): DataFrame = {
    val g = gallery.select(col(idCol).cast("long").as("neighbor_id"),
      vec(col(vecCol)).as("gv"))
    val q = queries.select(col(qidCol).cast("long").as("query_id"),
      vec(col(vecCol)).as("qv"))
    TopK.perGroup(KnnScan(metric, k, g, q), "query_id", "neighbor_id",
      "score", k, metric.ascending)
  }

  private def withDist(ranked: DataFrame, scale: Int): DataFrame =
    ranked.select(col("query_id"), col("rnk"), col("neighbor_id"),
      distFromIntSq(col("score"), scale).as("dist"))
}
