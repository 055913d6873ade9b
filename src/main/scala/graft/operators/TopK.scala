package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded per-group top-k by (score, id): ties break to the lowest id,
  * NaN scores rank last. Map-side partial aggregation keeps each task's
  * local k best, so the shuffle is O(groups · k · partitions). */
object TopK {
  /** Per-group top-k over a pre-scored DataFrame.
    *
    * Routed through the native [[graft.plans.TopKAggregate]]
    * (`TypedImperativeAggregate` over primitive arrays): the
    * `udaf(Aggregator)` form decoded every scored row into a case class
    * and re-encoded the buffer per update — measured ~50× the cost of
    * the distance math itself at a 1M-row gallery (ScaleProbe).
    *
    * Input: one row per (group, candidate id, score).
    * Output: (groupCol, rnk, id, score) with rnk 1-based in score order.
    */
  def perGroup(scored: DataFrame, groupCol: String, idCol: String,
               scoreCol: String, k: Int, ascending: Boolean): DataFrame =
    perGroupImpl(scored, groupCol, idCol, scoreCol, k, ascending,
      distinctIds = false)

  /** [[perGroup]] with duplicate (id, score) rows collapsed INSIDE the
    * aggregate buffer — exactly what `scored.distinct()` before the
    * aggregate produces when the score is a deterministic function of
    * (group, id), but without the distinct's extra exchange: the dedup
    * is an O(1) compare at the insertion point of the sorted bounded
    * buffer. Use where candidates legitimately repeat (e.g. a beam
    * frontier ∪ its neighbor expansion). */
  def perGroupDistinct(scored: DataFrame, groupCol: String, idCol: String,
                       scoreCol: String, k: Int, ascending: Boolean)
      : DataFrame =
    perGroupImpl(scored, groupCol, idCol, scoreCol, k, ascending,
      distinctIds = true)

  private def perGroupImpl(scored: DataFrame, groupCol: String,
                           idCol: String, scoreCol: String, k: Int,
                           ascending: Boolean, distinctIds: Boolean)
      : DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val agg = GraftSqlBridge.column(
      graft.plans.TopKAggregate(
        GraftSqlBridge.expression(col(idCol).cast("long")),
        GraftSqlBridge.expression(col(scoreCol).cast("double")),
        k, ascending, distinctIds).toAggregateExpression())
    scored
      .groupBy(col(groupCol))
      .agg(agg.as("topk"))
      .select(col(groupCol), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(
        col(groupCol),
        (col("pos") + 1).cast("long").as("rnk"),
        col("hit.id").as(idCol),
        col("hit.score").as(scoreCol))
  }
}
