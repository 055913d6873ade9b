package graft.operators

import graft.functions.VectorFunctions._
import graft.plans.CentroidKernels
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF+PQ composite index search — the canonical billion-scale FAISS
  * shape (IndexIVFPQ with by_residual=false), composed from graft's IVF
  * partitioning and PQ codes:
  *
  *  - coarse quantizer routes each query to `nprobe` centroids
  *    (the exact `KnnJoin` scan over the centroids);
  *  - the codes table is pruned to probed partitions by a broadcast
  *    join on centroid_id (on the persisted partitioned layout this is
  *    partition pruning — reads nprobe/nlist of the data);
  *  - ranking is PQ asymmetric distance: per-query lookup tables ride
  *    the broadcast probe frame (one positional table per subspace,
  *    [[PqIndex.posTable]]), summed map-side per candidate row — no
  *    exchange between the prune and the O(Q·k) partial top-k.
  *
  * Reference anchor: faiss_utils.py:4-22 (flat index build/search this
  * scales out from).
  */
object IvfPq {

  private def collectVecs(df: DataFrame, idCol: String,
                          vecCol: String): Array[(Long, Array[Double])] =
    df.select(col(idCol).cast("long"), toDoubleArray(col(vecCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  /** Residuals v − centroid(v): one map-only pass — the
    * [[IvfIndex.assign]] argmin, then the native subtract of the
    * assigned centroid ([[graft.plans.CentroidResidual]]); the
    * centroids are collected once for both. Returns (id, centroid_id,
    * rvec); a null vector gets a null centroid_id and rvec. Train
    * residual codebooks on this (`PqIndex.train` over `rvec`). */
  def residuals(vectors: DataFrame, centroids: DataFrame, idCol: String,
                vecCol: String, cidCol: String,
                scale: Int = DefaultScale): DataFrame = {
    val cents = collectVecs(centroids, cidCol, vecCol).toSeq
    IvfIndex.assignTo(vectors, idCol, vecCol,
        IvfIndex.quantized(cents, scale), scale)
      .select(col("id"), col("centroid_id"),
        CentroidKernels.residual(toDoubleArray(col("vec")),
          col("centroid_id"), cents).as("rvec"))
  }

  /** Residual-PQ encode (IndexIVFPQ by_residual=true): codes quantize
    * v − centroid(v). Single map-only pass over [[residuals]] output:
    * each subspace's argmin reads its slice of rvec in place, and
    * centroid_id is carried through. Returns (id, codes, centroid_id) —
    * the persisted index layout. */
  def encodeResidual(vectors: DataFrame, centroids: DataFrame,
                     idCol: String, vecCol: String, cidCol: String,
                     dim: Int, m: Int, book: Seq[PqIndex.Codebook],
                     scale: Int = DefaultScale): DataFrame = {
    residuals(vectors, centroids, idCol, vecCol, cidCol, scale)
      .select(col("id"), PqIndex.codesOf(col("rvec"), dim, m, book).as("codes"),
        col("centroid_id"))
  }

  /** Residual-ADC search: per (query, probed centroid) the lookup
    * table quantizes ||(q − c) − codeword||². Probe routing runs on
    * the driver (queries AND centroids are broadcast-sized), so only
    * Q·nprobe tables are folded into the plan — the same map-side,
    * no-exchange-before-top-k shape as [[search]]. */
  def searchResidual(codes: DataFrame, centroids: DataFrame,
                     queries: DataFrame, cidCol: String, qidCol: String,
                     vecCol: String, dim: Int, m: Int,
                     book: Seq[PqIndex.Codebook], k: Int,
                     nprobe: Int): DataFrame = {
    val spark = codes.sparkSession
    val sub = dim / m
    val cents = collectVecs(centroids, cidCol, vecCol)
    val qRows = collectVecs(queries, qidCol, vecCol)
    val bySub: Map[Int, Seq[PqIndex.Codebook]] =
      book.groupBy(_.sub).map { case (j, cbs) => j -> cbs.sortBy(_.cid) }
    // driver-side probe routing: ties → lowest centroid id
    val probePairs: Seq[(Long, Long)] = qRows.toSeq.flatMap {
      case (qid, qv) =>
        cents.map { case (cid, cv) => (l2sq(qv, cv), cid) }
          .sortBy(identity).take(nprobe).map(p => (qid, p._2))
    }
    import spark.implicits._
    val centMap = cents.toMap
    val qMap = qRows.toMap
    // the residual lookup table is per (query, probed centroid) — it
    // rides IN the broadcast probes frame itself (one hash-join lookup
    // per candidate row; the earlier nested literal map scanned all Q
    // then all nprobe keys linearly per row), per-sub tables positional
    // (PqIndex.posTable).
    val probesDf = probePairs.map { case (qid, cid) =>
      val qv = qMap(qid)
      val cv = centMap(cid)
      val dtab = (0 until m).map { j =>
        PqIndex.posTable(bySub(j).map { cb =>
          var acc = 0.0; var i = 0
          while (i < sub) {
            val d = (qv(j * sub + i) - cv(j * sub + i)) - cb.centroid(i)
            acc += d * d; i += 1
          }
          (cb.cid, acc)
        })
      }
      (qid, cid, dtab)
    }.toDF("query_id", "centroid_id", "dtab")
    val cand = codes
      .join(broadcast(probesDf), Seq("centroid_id"))
    val adc = (0 until m)
      .map(j => element_at(element_at(col("dtab"), j + 1),
        col("codes").getItem(j) + 1))
      .reduce(_ + _)
    val scored = cand.select(col("query_id"),
      col("id").cast("long").as("neighbor_id"), adc.as("adc"))
    TopK.perGroup(scored, "query_id", "neighbor_id", "adc", k,
      ascending = true)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        sqrt(col("adc")).as("dist"))
  }

  /** Search codes pruned by IVF probes, ranked by ADC.
    *
    * @param codes (id, codes, centroid_id) — PqIndex.encode joined to
    *              IvfIndex.assign output (the persisted index layout)
    * @param centroids (cidCol, vecCol) coarse centroids
    * @param queries (qidCol, vecCol) broadcast-sized query set
    * @param book PQ codebooks (PqIndex.train or seeded)
    * @param scale fixed-point scale ALREADY applied to vecCol values
    *              (pass 1 when vectors are pre-quantized integers)
    * @return (query_id, rnk, neighbor_id, dist), dist = sqrt(adc)
    */
  def search(codes: DataFrame, centroids: DataFrame, queries: DataFrame,
             cidCol: String, qidCol: String, vecCol: String, dim: Int,
             m: Int, book: Seq[PqIndex.Codebook], k: Int, nprobe: Int,
             scale: Int = 1): DataFrame = {
    val sub = dim / m
    val probes = KnnJoin.knnL2(
      centroids.select(col(cidCol), col(vecCol)), queries,
      cidCol, vecCol, qidCol, k = nprobe, scale = scale)
      .select(col("query_id"), col("neighbor_id").as("centroid_id"))
    val spark = codes.sparkSession
    val bySub: Map[Int, Seq[PqIndex.Codebook]] =
      book.groupBy(_.sub).map { case (j, cbs) => j -> cbs.sortBy(_.cid) }
    val qRows: Array[(Long, Array[Double])] = queries
      .select(col(qidCol).cast("long"), toDoubleArray(col(vecCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    // per-query lookup tables ride a BROADCAST-JOINED column (hash
    // lookup per candidate row), not a Q-entry literal map whose
    // element_at scanned all Q keys linearly per row; the per-sub
    // tables are positional arrays (PqIndex.posTable — O(1) per code).
    // The tables fold INTO the probe frame (Q·nprobe rows) so the
    // codes side sees exactly ONE broadcast join — the v7 lesson: a
    // second join over the post-probe row explosion pays its cost
    // once per (row, query) pair.
    import spark.implicits._
    val dtabDf = qRows.toSeq.map { case (qid, qvec) =>
      (qid, (0 until m).map(j =>
        PqIndex.posTable(PqIndex.subDists(qvec, j, sub, bySub(j)))))
    }.toDF("query_id", "dtab")
    val probeTab = probes.join(dtabDf, Seq("query_id"))
    val cand = codes
      .join(broadcast(probeTab), Seq("centroid_id"))
    val adc = (0 until m)
      .map(j => element_at(element_at(col("dtab"), j + 1),
        col("codes").getItem(j) + 1))
      .reduce(_ + _)
    val scored = cand.select(col("query_id"),
      col("id").cast("long").as("neighbor_id"), adc.as("adc"))
    TopK.perGroup(scored, "query_id", "neighbor_id", "adc", k,
      ascending = true)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        sqrt(col("adc")).as("dist"))
  }
}
