package graft.operators

import graft.functions.VectorFunctions._
import graft.plans.{CentroidKernels, Quantize, VectorSumAggregate}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._

/** Batch IVF (inverted-file) vector index built with DataFrame ops — the
  * scale path the reference's flat FAISS index (faiss_utils.py:4-9) grows
  * into when one matrix no longer fits a node.
  *
  * Layout: the "index" is a parquet table (id, vec, centroid_id)
  * physically partitioned by `centroid_id`. Probe search then reads only
  * `nprobe/nlist` of the data via partition pruning — at 100 TB that is
  * the difference between scanning everything and scanning a few shards.
  *
  * Centroids are broadcast everywhere (≤ tens of thousands of rows);
  * assignment is a map-only pass through one native argmin.
  */
object IvfIndex {

  /** Assign each vector to its nearest centroid (exact integer L2,
    * ties → lowest centroid id). Returns (id, vec, centroid_id, d2).
    *
    * Centroids are broadcast-sized by definition (nlist × dim), so they
    * are collected and ride the plan as literals of one native argmin
    * ([[graft.plans.IntNearestCentroid]]): the whole assignment is one
    * map-only projection — zero joins, zero aggregates, zero shuffles.
    * A null vector gets a null centroid_id and d2; a null element, or a
    * vector whose length differs from the centroids', throws
    * `IllegalArgumentException`. */
  def assign(vectors: DataFrame, centroids: DataFrame, idCol: String,
             vecCol: String, cidCol: String,
             scale: Int = DefaultScale): DataFrame = {
    val cents = centroids
      .select(col(cidCol).cast("long"), quantize(col(vecCol), scale))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    assignTo(vectors, idCol, vecCol, cents, scale)
  }

  /** [[assign]] against centroids already collected and quantized. */
  private[operators] def assignTo(vectors: DataFrame, idCol: String,
                                  vecCol: String,
                                  cents: Seq[(Long, Array[Long])],
                                  scale: Int): DataFrame = {
    require(cents.nonEmpty, "assign: empty centroid set")
    vectors
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
        CentroidKernels.nearestInt(quantize(col(vecCol), scale),
          cents.head._2.length, 0, cents).as("best"))
      .select(col("id"), col("vec"),
        col("best.cid").as("centroid_id"), col("best.d2").as("d2"))
  }

  /** Quantize driver-side centroids as `quantize` does in a plan. */
  private[operators] def quantized(cents: Seq[(Long, Array[Double])],
                                   scale: Int): Seq[(Long, Array[Long])] =
    cents.map { case (cid, v) => (cid, v.map(Quantize.toFixed(_, scale))) }

  /** One Lloyd iteration: recompute centroids as element-wise means of
    * their assigned vectors. One native aggregate per cluster — the
    * member count and the double element-wise sum
    * ([[graft.plans.VectorSumAggregate]]), map-side combined, so the
    * shuffle carries one dim-sized buffer per (cluster, partition) —
    * then mean = Σ/n per element, as `avg` computes it. Rows with a
    * null vec are skipped; a cluster without vectors has no row. */
  def lloydStep(assigned: DataFrame): DataFrame = {
    val vecSum = GraftSqlBridge.column(VectorSumAggregate(
      GraftSqlBridge.expression(toDoubleArray(col("vec")))).toAggregateExpression())
    assigned
      .groupBy(col("centroid_id"))
      .agg(count(col("vec")).as("n"), vecSum.as("s"))
      .filter(col("s").isNotNull)
      .select(col("centroid_id"),
        transform(col("s"), x => x / col("n")).as("vec"))
  }

  /** Full Lloyd/k-means training of the coarse quantizer: deterministic
    * seeding (k lowest ids), then `iters` assign→mean rounds. Each round
    * is one job: the map-only [[assign]] and the [[lloydStep]]
    * aggregate in one pass over the vectors, k rows collected to the
    * driver. Centroids stay on the driver between rounds — broadcast-
    * sized by definition (nlist × dim) — and ride the next round's plan
    * as literals, so the per-round plan stays flat instead of a growing
    * lineage. Returns (cid, embedding) centroids. */
  def train(spark: SparkSession, vectors: DataFrame, idCol: String,
            vecCol: String, k: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    var cents: Seq[(Long, Array[Double])] =
      vectors.orderBy(col(idCol)).limit(k)
        .select(toDoubleArray(col(vecCol))).collect()
        .zipWithIndex.map { case (r, i) => (i.toLong, r.getSeq[Double](0).toArray) }
        .toSeq
    for (_ <- 1 to iters) {
      val assigned = assignTo(vectors, idCol, vecCol,
        quantized(cents, DefaultScale), DefaultScale)
      cents = lloydStep(assigned).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
    }
    val centSchema = StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField(vecCol, ArrayType(DoubleType), nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        cents.map { case (cid, v) => Row(cid, v.toSeq) }, 1),
      centSchema)
  }

  /** Persist the index partitioned by centroid id (partition pruning on
    * probe). The reference's save_faiss_index (faiss_utils.py:11-13). */
  def save(assigned: DataFrame, path: String): Unit =
    assigned.select("id", "vec", "centroid_id")
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  /** Load a persisted index (faiss_utils.py:15-17). The scan is
    * parallelism-ensured: a small index (or one whose files coalesce
    * under maxPartitionBytes) would otherwise run every downstream
    * map stage on a handful of tasks — measured as v66 (persisted IVF search)
    * benching SLOWER than the full rebuild. No-op on a
    * production-scale multi-split layout. */
  def load(spark: SparkSession, path: String): DataFrame =
    graft.sources.Tables.ensureParallelism(
      spark.read.parquet(path), Some(path))

  /** IVF probe search: route each query to its `nprobe` nearest
    * centroids, then exact top-k among vectors in the probed partitions.
    * Output (query_id, rnk, neighbor_id, dist).
    *
    * Plan shape (re-measured at the 100k-row bench point): the gallery
    * side quantizes ONCE per index row BEFORE the join — an index row
    * probed by p queries must not re-quantize p times (the original
    * post-join projection did exactly that: with ~200 queries probing
    * each centroid it was 200× the map work, and v7 benched SLOWER
    * than the v1 brute-force scan it is supposed to beat). The query
    * vectors fold INTO the broadcast probe table (Q·nprobe rows, each
    * with its quantized query), so there is exactly ONE join on the
    * gallery side and the distance evaluates in its output. */
  def search(index: DataFrame, centroids: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, cidCol: String, qidCol: String,
             k: Int, nprobe: Int, scale: Int = DefaultScale): DataFrame = {
    // stage 1: query → nprobe nearest centroids (exact KnnJoin scan).
    val probes = KnnJoin.knnL2(
      centroids.select(col(cidCol), col(vecCol)), queries,
      cidCol, vecCol, qidCol, k = nprobe, scale = scale)
      .select(col("query_id"), col("neighbor_id").as("centroid_id"))
    // stage 2: candidates = index rows in probed partitions (partition
    // pruning when `index` is loaded from the partitioned layout).
    val q = queries.select(col(qidCol).cast("long").as("query_id"),
      quantize(col(vecCol), scale).as("qv"))
    val probeQ = probes.join(q, Seq("query_id"))
    val cand = index
      .select(col("id").cast("long").as("neighbor_id"),
        quantize(col("vec"), scale).as("nqv"),
        col("centroid_id").cast("long").as("centroid_id"))
      .join(broadcast(probeQ), Seq("centroid_id"))
      .select(col("query_id"), col("neighbor_id"),
        intL2Sq(col("nqv"), col("qv")).cast("double").as("d2"))
    TopK.perGroup(cand, "query_id", "neighbor_id", "d2", k, ascending = true)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        distFromIntSq(col("d2"), scale).as("dist"))
  }

  /** Execute tombstone compaction on a persisted centroid-partitioned
    * index — the faiss `remove_ids` REWRITE, applied only where the
    * v71 planner rule says the rent is due. Partitions whose EXACT
    * dead share crosses the rewrite threshold (`8·n_dead > n_total`,
    * i.e. > 12.5 % dead — cross-multiplied Longs, no float boundary)
    * are rewritten into `dstPath` with dead rows PURGED; every other
    * partition's files are copied BYTE-FOR-BYTE (a production store
    * would hard-link or leave them in place — the point is they are
    * never re-encoded, so compaction cost scales with the flagged
    * fraction, not the index size). The rewrite job reads ONLY the
    * flagged partitions via partition pruning. Returns the flagged
    * centroid ids (sorted) so callers/specs can assert the split.
    *
    * Serving from the compacted store still anti-joins the tombstone
    * set: unflagged partitions legitimately retain dead rows (that is
    * the whole economics of the threshold) — compaction changes WHERE
    * the bytes are, never what the search returns (v95's gate runs
    * v62's oracle verbatim against the compacted serve). */
  def compact(spark: SparkSession, srcPath: String, dstPath: String,
              isDead: org.apache.spark.sql.Column): Seq[Long] = {
    val idx = load(spark, srcPath)
    val flagged = idx.groupBy(col("centroid_id").cast("long").as("cid"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(isDead, 1L).otherwise(0L)).as("n_dead"))
      .filter(col("n_dead") * 8 > col("n_total"))
      .select("cid").collect().map(_.getLong(0)).toSeq.sorted
    // rewrite flagged partitions dead-purged (partition-pruned scan);
    // an empty flag set still writes the _SUCCESS marker
    idx.filter(col("centroid_id").cast("long")
        .isin(flagged: _*) && !isDead)
      .write.mode("overwrite").partitionBy("centroid_id").parquet(dstPath)
    // copy unflagged partition directories file-for-file
    val src = java.nio.file.Paths.get(srcPath)
    val dst = java.nio.file.Paths.get(dstPath)
    val keep = flagged.map(c => s"centroid_id=$c").toSet
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(src).iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("centroid_id=") &&
        !keep.contains(p.getFileName.toString))
      .foreach { part =>
        val target = dst.resolve(part.getFileName.toString)
        java.nio.file.Files.createDirectories(target)
        java.nio.file.Files.list(part).iterator().asScala.foreach { f =>
          java.nio.file.Files.copy(f, target.resolve(f.getFileName.toString),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      }
    flagged
  }
}
