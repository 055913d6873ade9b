package graft.operators

import graft.functions.VectorFunctions.{quantize, vectorSum, DefaultScale}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-class centroid (mean-embedding) operators: the
  * nearest-class-mean classifier — the label-assignment twin of the
  * reference's KNN majority vote, and the standard cheap baseline over
  * any labeled embedding table.
  *
  * Exactness: the mean is never materialized as a float. With
  * per-class count n and element-wise SUM vector s,
  * `||q - s/n||^2 == A / n^2` where `A = sum_i (n*q_i - s_i)^2` is
  * accumulated as Decimal(38,0): the per-dim difference fits a Long
  * (|n·q_i − s_i| ≤ 2·n·scale·max|x|), but its SQUARE overflows Long
  * wrap-around once a class reaches ~19k members (dim 64, scale 1e4) —
  * a silent NaN under non-ANSI Long math. Decimal(38,0) holds classes
  * to n ≈ 2e14 and mirrors DuckDB's native HUGEINT sum. The only
  * floats are `sqrt(A) / (n*scale)` — correctly-rounded IEEE ops on
  * the exact integer, bit-identical across engines.
  */
object Centroids {

  /** Per-class (n, element-wise sum) of a quantized vector column —
    * ONE map-side-combined aggregate through the native
    * [[graft.plans.VectorSumAggregate]] (primitive Long buffers, one
    * array read per row). The previous form posexploded the gallery
    * into (label, dim, x) rows — dim× the row volume through the
    * aggregate, measured as the dominant cost of every Lloyd training
    * pass — then re-assembled arrays with a collect_list sort. Output
    * is nClasses rows; labels whose vectors are all NULL drop (the
    * exploded form generated no sum rows for them either). */
  def classSums(vecs: DataFrame, labCol: String, qvCol: String): DataFrame = {
    vecs.groupBy(col(labCol).as("lab"))
      .agg(count(lit(1)).as("n"), vectorSum(col(qvCol)).as("svec"))
      .filter(col("svec").isNotNull)
  }

  /** Per-class embedding compactness: mean intra-class squared L2
    * distance via the centroid identity
    * `Σ_{i<j}||xi−xj||² = n·Σ||xi||² − ||Σxi||²` — two O(N) map-side-
    * combined aggregates, never a pairwise join. Sums ride
    * Decimal(38,0) (the DuckDB-HUGEINT twin) so the identity stays
    * exact at any class size; RandomizedEquivalenceSpec proves it
    * against the naive all-pairs mean. Output: (label_id, n,
    * mean_sq_dist) in real (descaled) units. */
  def classCompactness(vecs: DataFrame, labCol: String, vecCol: String,
                       scale: Int = DefaultScale): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = vecs.select(col(labCol).cast("long").as("label_id"),
      quantize(col(vecCol), scale).as("qv"))
    val snorm = g
      .select(col("label_id"), posexplode(col("qv")).as(Seq("i", "x")))
      .groupBy("label_id", "i").agg(sum(col("x").cast(dec)).as("sx"))
      .groupBy("label_id").agg(sum(col("sx") * col("sx")).as("snorm"))
    g.groupBy("label_id")
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.VectorFunctions.intNormSq(col("qv")).cast(dec))
          .as("s2"))
      .join(snorm, "label_id")
      .select(col("label_id"), col("n"),
        when(col("n") >= 2,
          ((col("n").cast(dec) * col("s2") - col("snorm")).cast("double")
            / expr("n * (n - 1) div 2").cast("double"))
            / lit(scale.toDouble * scale))
          .otherwise(lit(0.0)).as("mean_sq_dist"))
  }

  /** Assign each query vector its nearest class mean.
    * Class sums are nClasses rows by definition → broadcast; the
    * gallery streams map-only through the distance compute, and the
    * only post-scan shuffle is the per-query top-1 window on Q*nClasses
    * rows. Output: (query_id, label_id, pred_label, dist, correct). */
  def nearestClassMean(vecs: DataFrame, idCol: String, labCol: String,
                       vecCol: String, queries: DataFrame,
                       scale: Int = DefaultScale): DataFrame = {
    val g = vecs.select(col(labCol).cast("long").as("lab"),
      quantize(col(vecCol), scale).as("qv"))
    val cs = classSums(g, "lab", "qv")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(labCol).cast("long").as("label_id"),
      quantize(col(vecCol), scale).as("qv"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val a = aggregate(
      zip_with(col("qv"), col("svec"), (qi, si) => {
        val diff = (col("n") * qi - si).cast(dec) // widen BEFORE squaring
        diff * diff
      }),
      lit(0L).cast(dec), (acc, x) => acc + x)
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("lab"))
    q.crossJoin(broadcast(cs))
      .withColumn("dist", sqrt(a) / (col("n") * scale).cast("double"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("label_id"),
        col("lab").as("pred_label"), col("dist"),
        when(col("lab") === col("label_id"), 1L).otherwise(0L).as("correct"))
  }
}
