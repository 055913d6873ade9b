package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Random-hyperplane LSH (sign hashing) for embedding vectors — the
  * sub-quadratic blocking path for cosine similarity search / near-dup
  * at 100 TB, where exact all-pairs or full-gallery scans are off the
  * table and even IVF probing wants a cheaper candidate filter.
  *
  * Hyperplanes are generated on the driver from a seed (deterministic,
  * tiny: nPlanes × dim doubles) and folded into the plan as literals —
  * effectively a free broadcast. Bucket key = the nPlanes sign bits of
  * the hyperplane dot products. Vectors with high cosine similarity
  * agree on most signs, so near-dups collide with high probability;
  * bucket equality becomes the shuffle key, never a cross join.
  */
object LshIndex {

  /** Deterministic Gaussian hyperplanes (driver-side, seed-fixed). */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Fixed-point hyperplanes: round(p * planeScale) as Long. Sign tests
    * then run in exact integer arithmetic (sum of Long products), which
    * is bit-reproducible in ANY engine — the property that lets the
    * DuckDB oracle fold the same plane literals into SQL. */
  def quantizePlanes(planes: Seq[Seq[Double]],
                     planeScale: Int = 1000000): Seq[Seq[Long]] =
    planes.map(_.map(x => math.round(x * planeScale)))

  /** Sign-bucket key from an already-quantized (array<long>) vector
    * column — one codegen'd dot-product kernel per plane, no doubles. */
  def bucketKeyQ(qv: Column, qplanes: Seq[Seq[Long]]): Column = {
    val bits = qplanes.map { p =>
      when(intDot(qv, array(p.map(lit): _*)) >= 0, lit("1"))
        .otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** Sign-bucket key column for a raw vector column. */
  def bucketKey(vec: Column, planes: Seq[Seq[Double]],
                scale: Int = DefaultScale): Column =
    bucketKeyQ(quantize(vec, scale), quantizePlanes(planes))

  /** Attach LSH buckets: (idCol, vecCol, bucket). */
  def bucketed(vecs: DataFrame, idCol: String, vecCol: String,
               dim: Int, nPlanes: Int = 12, seed: Long = 42L): DataFrame =
    vecs.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
      bucketKey(col(vecCol), hyperplanes(dim, nPlanes, seed)).as("bucket"))

  /** Near-dup candidate pairs: same bucket, verified by exact cosine.
    * One shuffle keyed by bucket; skew-capped by the bit width. */
  def nearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
                   dim: Int, threshold: Double, nPlanes: Int = 12,
                   seed: Long = 42L, scale: Int = DefaultScale): DataFrame = {
    val b = bucketed(vecs, idCol, vecCol, dim, nPlanes, seed)
      .select(col("id"), col("bucket"), quantize(col("vec"), scale).as("qv"))
      .withColumn("nsq", intNormSq(col("qv")))
    b.as("x").join(b.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        cosineFromInts(intDot(col("x.qv"), col("y.qv")),
          col("x.nsq"), col("y.nsq")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** MULTI-PROBE approximate KNN (Lv et al., VLDB'07): each query
    * probes its own bucket PLUS every bucket at Hamming distance 1
    * (one sign bit flipped) — the standard recall lever that buys
    * near-neighbor coverage without more hash tables or a bigger
    * broadcast. A true near neighbor that disagrees on exactly one
    * hyperplane sign (the dominant miss mode as nPlanes grows) is
    * recovered at the cost of probing nPlanes extra buckets.
    *
    * Only the QUERY side fans out (×(nPlanes+1) rows in the broadcast
    * frame — still tiny); the gallery keeps one bucket per row and
    * streams through the same bucket-key hash join, so the 100 TB
    * side's plan is IDENTICAL to [[search]]. Probed buckets are
    * distinct, so a (query, gallery) pair scores at most once and no
    * dedup pass is needed before the top-k. */
  def searchMultiProbe(gallery: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, qidCol: String,
                       dim: Int, k: Int, nPlanes: Int = 12,
                       seed: Long = 42L,
                       scale: Int = DefaultScale): DataFrame = {
    val qplanes = quantizePlanes(hyperplanes(dim, nPlanes, seed))
    val g = gallery
      .select(col(idCol).cast("long").as("neighbor_id"),
        quantize(col(vecCol), scale).as("gv"))
      .withColumn("bucket", bucketKeyQ(col("gv"), qplanes))
    val flips = (0 until nPlanes).map { i =>
      concat(substring(col("bucket0"), 1, i),
        when(substring(col("bucket0"), i + 1, 1) === "1", lit("0"))
          .otherwise(lit("1")),
        substring(col("bucket0"), i + 2, nPlanes - i - 1))
    }
    val q = queries
      .select(col(qidCol).cast("long").as("query_id"),
        quantize(col(vecCol), scale).as("qv"))
      .withColumn("bucket0", bucketKeyQ(col("qv"), qplanes))
      .withColumn("bucket", explode(array(col("bucket0") +: flips: _*)))
    KnnJoin.rankPairs(g.join(broadcast(q), Seq("bucket")), k, scale)
  }

  /** Approximate KNN: candidates restricted to the query's bucket, then
    * exact ranking within it. Queries are broadcast; the gallery-side
    * bucket join prunes the scan to colliding rows only. */
  def search(gallery: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, qidCol: String, dim: Int, k: Int,
             nPlanes: Int = 12, seed: Long = 42L,
             scale: Int = DefaultScale): DataFrame = {
    val qplanes = quantizePlanes(hyperplanes(dim, nPlanes, seed))
    val g = gallery
      .select(col(idCol).cast("long").as("neighbor_id"),
        quantize(col(vecCol), scale).as("gv"))
      .withColumn("bucket", bucketKeyQ(col("gv"), qplanes))
    val q = queries
      .select(col(qidCol).cast("long").as("query_id"),
        quantize(col(vecCol), scale).as("qv"))
      .withColumn("bucket", bucketKeyQ(col("qv"), qplanes))
    KnnJoin.rankPairs(g.join(broadcast(q), Seq("bucket")), k, scale)
  }
}
