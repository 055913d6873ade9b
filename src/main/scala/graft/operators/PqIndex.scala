package graft.operators

import graft.functions.VectorFunctions._
import graft.plans.{CentroidKernels, PqGridSumAggregate}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (PQ) — the compressed-index scale path of a
  * FAISS-style engine (IndexPQ/IVFPQ semantics re-expressed as
  * DataFrame ops). A D-dim float vector becomes `m` small codes
  * (argmin centroid per subspace), an ~D·4/m-fold compression; queries
  * then rank candidates with asymmetric distance (ADC): exact query
  * sub-vectors against the codebook, summed via a per-query lookup
  * table.
  *
  * Scale shape: codebooks are tiny (m × ksub × D/m) → driver/broadcast;
  * encoding is a map-only pass over the gallery (one native argmin per
  * subspace, the codebook riding it as literals); ADC search shuffles
  * only (gallery_id × m) code rows joined to a broadcast distance
  * table, then partial top-k — the 100 TB gallery is never touched at
  * full precision.
  */
object PqIndex {

  case class Codebook(sub: Int, cid: Int, centroid: Seq[Double])

  /** Seeded codebooks: sub-slices of the first `ksub` vectors by id —
    * the derive-from-data construction the oracle-gated queries use so
    * the DuckDB twins can reconstruct the identical codebooks in SQL.
    * Single source of truth for v11/v13/ScaleProbe. */
  def seededBook(vecs: DataFrame, idCol: String, vecCol: String,
                 dim: Int, m: Int, ksub: Int): Seq[Codebook] = {
    val sub = dim / m
    vecs.filter(col(idCol) < ksub)
      .select(col(idCol).cast("long"), toDoubleArray(col(vecCol)))
      .collect()
      .flatMap { r =>
        val cid = r.getLong(0).toInt
        val v = r.getSeq[Double](1)
        (0 until m).map(j =>
          Codebook(j, cid, v.slice(j * sub, (j + 1) * sub)))
      }.toSeq
  }

  /** Train per-subspace codebooks with deterministic Lloyd k-means,
    * all m subspaces together. Seeds are the sub-slices of the `ksub`
    * lowest-id vectors (cid = rank), collected once. Each round is one
    * job over the unsliced vectors: m exact integer argmins
    * ([[IvfIndex.assign]]'s kernel on each quantized subspace slice)
    * feed one native per-(subspace, cid) count-and-sum aggregate
    * ([[graft.plans.PqGridSumAggregate]], double sums), collected to
    * the driver; each centroid is Σ/n as `avg` computes it, and a cell
    * without members drops. Rows with a null vector are skipped.
    * dim must divide evenly into m subspaces. */
  def train(spark: SparkSession, vecs: DataFrame, idCol: String,
            vecCol: String, dim: Int, m: Int, ksub: Int,
            iters: Int): Seq[Codebook] = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val v = toDoubleArray(col(vecCol))
    val seeds = vecs.orderBy(col(idCol)).limit(ksub).select(v).collect()
      .map(_.getSeq[Double](0))
    var book: Seq[Codebook] = for {
      j <- 0 until m
      (x, cid) <- seeds.toSeq.zipWithIndex
    } yield Codebook(j, cid, x.slice(j * sub, (j + 1) * sub))
    for (_ <- 1 to iters) {
      val bySub = book.groupBy(_.sub)
      val qv = quantize(v)
      val codes = array((0 until m).map { j =>
        val cents = bySub(j).map(cb => (cb.cid.toLong, cb.centroid.toArray))
        CentroidKernels.nearestInt(qv, dim, j * sub,
          IvfIndex.quantized(cents, DefaultScale)).getField("cid")
      }: _*)
      val grid = GraftSqlBridge.column(PqGridSumAggregate(
        GraftSqlBridge.expression(col("x")), GraftSqlBridge.expression(col("codes")),
        m, ksub, sub).toAggregateExpression())
      book = vecs.select(v.as("x"), codes.as("codes"))
        .agg(grid.as("grid"))
        .collect().head.getSeq[Row](0)
        .filter(_.getLong(1) > 0)
        .map { cell =>
          val (lab, n) = (cell.getLong(0).toInt, cell.getLong(1))
          Codebook(lab / ksub, lab % ksub,
            cell.getSeq[Double](2).map(_ / n).toIndexedSeq)
        }
    }
    book
  }

  /** Argmin over an unsliced vector column's subspace `j`: the squared
    * L2 double fold against every centroid of the subspace's codebook,
    * smallest (d2, cid) wins ([[graft.plans.DoubleNearestCentroid]],
    * bit-identical to the `aggregate(zip_with(...))` + `array_min`
    * form). A vector of another length than `dim`, or a null element
    * in the subspace, throws `IllegalArgumentException`. */
  private[operators] def encodeSub(vec: Column, dim: Int, m: Int, j: Int,
                                   book: Seq[Codebook]): Column = {
    val sub = dim / m
    val cents = book.filter(_.sub == j)
      .map(cb => (cb.cid.toLong, cb.centroid.toArray))
    require(cents.nonEmpty, s"encode: codebook holds no centroids for subspace $j")
    require(cents.forall(_._2.length == sub),
      s"encode: subspace $j centroids must have $sub elements")
    CentroidKernels.nearestDouble(vec, dim, j * sub, cents)
      .getField("cid").cast("int")
  }

  /** The m codes of an array<double> column, each subspace's argmin
    * reading its slice in place ([[encodeSub]]); null for a null
    * vector. */
  private[operators] def codesOf(vec: Column, dim: Int, m: Int,
                                 book: Seq[Codebook]): Column =
    when(vec.isNotNull,
      array((0 until m).map(j => encodeSub(vec, dim, m, j, book)): _*))

  /** Encode: (id, codes array<int>) — map-only, no shuffle. The vector
    * is cast to doubles once, then [[codesOf]]. */
  def encode(vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
             m: Int, book: Seq[Codebook]): DataFrame =
    vecs.select(col(idCol).cast("long").as("id"),
        toDoubleArray(col(vecCol)).as("_v"))
      .select(col("id"), codesOf(col("_v"), dim, m, book).as("codes"))

  /** Hard ceiling on a positional table's cid range: positions are
    * allocated DENSELY up to the max cid, so a sparse id-derived cid
    * space (say doc_id-keyed codebooks at big SF) would silently
    * allocate a huge mostly-NaN array per (query, subspace). Real
    * codebooks are ksub ≤ 256 (FAISS's 8-bit codes); 4096 leaves slack
    * for sparse Lloyd survivors while catching misuse loudly. */
  val MaxCodebookCid = 4096

  /** Ceiling on the ADC broadcast distance-table frame (~the Spark
    * broadcast comfort zone). dtab grows as Q · m · (maxCid+1) doubles
    * — the Q side of the batch-KNN "queries are broadcast-sized"
    * contract, ENFORCED in [[searchAdc]] rather than implied: a
    * Q = 10⁷ call fails with a batching instruction instead of OOMing
    * the driver. */
  val MaxAdcTableBytes = 256L << 20

  /** Codebook distances as a POSITIONAL lookup table: index = cid + 1
    * (element_at is 1-based). A literal-`map` table scans its entries
    * linearly on every lookup — measured as the data-bound bottleneck
    * of every ADC path at a 100k-row gallery (v11 162 s, v16 261 s in
    * BENCH_big_r03's first recording: O(m·ksub) per candidate instead
    * of O(m)). Positions for Lloyd-dropped cluster ids hold NaN — codes
    * reference only surviving cids, and if a hole were ever probed the
    * NaN would poison `dist` and fail the hash gate loudly rather than
    * mis-rank silently. */
  private[operators] def posTable(entries: Seq[(Int, Double)]): Seq[Double] = {
    require(entries.nonEmpty,
      "posTable: empty codebook subspace — the codebook must hold at " +
        "least one centroid per subspace")
    val maxCid = entries.map(_._1).max
    require(maxCid < MaxCodebookCid,
      s"posTable: max cid $maxCid exceeds $MaxCodebookCid — positional " +
        "tables allocate densely to the max cid; re-index the codebook " +
        "to a compact cid range")
    val arr = Array.fill(maxCid + 1)(Double.NaN)
    entries.foreach { case (cid, d) => arr(cid) = d }
    arr.toSeq
  }

  /** ||q_sub_j − centroid||² for every codebook entry of subspace j —
    * exact driver math (integer-valued doubles), shared by the ADC
    * paths. */
  private[operators] def subDists(qvec: Array[Double], j: Int, sub: Int,
                                  cbs: Seq[Codebook]): Seq[(Int, Double)] =
    cbs.map { cb =>
      var acc = 0.0
      var i = 0
      while (i < sub) {
        val dd = qvec(j * sub + i) - cb.centroid(i)
        acc += dd * dd; i += 1
      }
      (cb.cid, acc)
    }

  /** ADC search: each query's (sub → cid → d2) lookup table is computed
    * driver-side (queries are broadcast-sized by the batch-KNN contract,
    * like centroids) and delivered as BROADCAST DATA — a
    * (query_id, dtab) frame crossjoined to the codes scan, the same
    * shape as batch KNN's broadcast(queries). Scoring per (row, query)
    * is then m O(1) positional `element_at` lookups ([[posTable]]),
    * and the only exchange is the O(Q·k) partial top-k.
    *
    * Two rejected shapes, both measured: folding the tables in as
    * per-query LITERALS (an exploded Q-struct array) keeps the plan
    * join-free but at Q = 1000 the 10⁵-literal expression tree stalls
    * codegen/Janino for minutes — literals are for centroid-sized
    * (≤ 10²-entry) tables, data for anything that scales with Q; and
    * literal-`map` tables scan their entries linearly per lookup
    * (O(m·ksub) per candidate — v11 162 s, v16 261 s at a 100k-row
    * gallery). Returns (query_id, rnk, neighbor_id, dist), dist the
    * ADC approximation of L2. */
  def searchAdc(codes: DataFrame, queries: DataFrame, qidCol: String,
                vecCol: String, dim: Int, m: Int, book: Seq[Codebook],
                k: Int): DataFrame = {
    val spark = codes.sparkSession
    val sub = dim / m
    // The batch-query contract, enforced BEFORE the collect: each query
    // costs m · (maxCid+1) table doubles, so the Q bound follows from
    // the broadcast budget. limit(maxQ+1).count() reads at most maxQ+1
    // rows — a bounded probe job, never a full count of a huge frame.
    val perQueryBytes =
      m.toLong * (book.map(_.cid).max + 1) * java.lang.Double.BYTES
    val maxQ = MaxAdcTableBytes / perQueryBytes
    val qProbe = queries.limit((maxQ + 1).toInt).count()
    require(qProbe <= maxQ,
      s"searchAdc: query batch exceeds $maxQ (the $MaxAdcTableBytes-byte " +
        "ADC table budget at this codebook size) — split the query set " +
        "into batches and union the per-batch top-k results")
    val bySub: Map[Int, Seq[Codebook]] =
      book.groupBy(_.sub).map { case (j, cbs) => j -> cbs.sortBy(_.cid) }
    (0 until m).foreach(j => require(bySub.contains(j),
      s"searchAdc: codebook holds no centroids for subspace $j of $m"))
    val qRows: Array[(Long, Array[Double])] = queries
      .select(col(qidCol).cast("long"), toDoubleArray(col(vecCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    import spark.implicits._
    val dtabDf = qRows.toSeq.map { case (qid, qvec) =>
      (qid, (0 until m).map(j =>
        posTable(subDists(qvec, j, sub, bySub(j)))))
    }.toDF("query_id", "dtab")
    val adc = (0 until m)
      .map(j => element_at(element_at(col("dtab"), j + 1),
        col("codes").getItem(j) + 1))
      .reduce(_ + _)
    val scored = codes.join(broadcast(dtabDf))
      .select(col("query_id"), col("id").cast("long").as("neighbor_id"),
        adc.as("adc"))
    TopK.perGroup(scored, "query_id", "neighbor_id", "adc", k,
      ascending = true)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        sqrt(col("adc")).as("dist"))
  }
}
