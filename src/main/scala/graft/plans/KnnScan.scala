package graft.plans

import java.lang.Math.fma

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnknownPartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

/** Score of the exact scan. `ascending`: smaller scores rank first. */
sealed abstract class KnnMetric(val ascending: Boolean)
object KnnMetric {
  /** Exact integer squared L2 distance, as a double. */
  case object L2 extends KnnMetric(ascending = true)
  /** Exact integer dot product, as a double (MIPS). */
  case object Dot extends KnnMetric(ascending = false)
  /** `ip / sqrt(na.toDouble * nb)` — `cosineFromInts`' IEEE op order;
    * a zero-norm side gives NaN, which [[TopKState]] ranks last. */
  case object Cosine extends KnnMetric(ascending = false)
}

/** Per-partition exact top-k of a gallery against a broadcast query set:
  * for every query, the k best (query_id, neighbor_id, score) rows of
  * this gallery partition. The rows of all partitions still need one
  * per-query merge ([[graft.operators.TopK.perGroup]]).
  *
  * The scan blocks the Q × N × D product: 128 gallery rows at a time,
  * scored 4 rows × 4 queries per kernel pass from exact integer dots and
  * squared norms (‖g − q‖² = ‖g‖² + ‖q‖² − 2·g·q, bit-identical to
  * Σ(g − q)² in wrapping `long` arithmetic). A block whose magnitudes
  * keep every dot within 2⁵³ is scored in `double` arithmetic, which is
  * then exact; any other block in `long` arithmetic. The input's
  * magnitude picks the path; see [[KnnScan.scanPartition]].
  *
  * The output passes the children's id attributes through (the gallery
  * id as neighbor_id, the query id as query_id) and adds `score`, so a
  * self-join of a KNN result deduplicates through the children's
  * aliases as a join would.
  */
case class KnnScan(metric: KnnMetric, k: Int,
                   galleryId: Attribute, galleryVec: Attribute,
                   queryId: Attribute, queryVec: Attribute, score: Attribute,
                   left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] = Seq(queryId, galleryId, score)
  override def producedAttributes: AttributeSet = AttributeSet(score)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): KnnScan =
    copy(left = newLeft, right = newRight)
}

object KnnScan {
  /** Rows of a gallery partition decoded per block: the scan's working
    * set is one block plus the query matrix and Q top-k buffers. */
  val BlockRows = 128

  /** (query_id, neighbor_id, score) per-partition top-k of
    * `gallery` (id: long, vec: array<long>) against `queries`
    * (id: long, vec: array<long>). */
  def apply(metric: KnnMetric, k: Int, gallery: DataFrame,
            queries: DataFrame): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = gallery.sparkSession
    KnnScanStrategy.install(spark)
    val g = GraftSqlBridge.logicalPlan(gallery)
    val q = GraftSqlBridge.logicalPlan(queries)
    for (p <- Seq(g, q)) require(p.output.map(_.dataType) match {
        case Seq(LongType, ArrayType(LongType, _)) => true
        case _ => false
      }, s"KnnScan takes (id bigint, vec array<bigint>), got ${p.schema.simpleString}")
    GraftSqlBridge.dataFrame(spark, KnnScan(metric, k,
      g.output(0), g.output(1), q.output(0), q.output(1),
      AttributeReference("score", DoubleType, nullable = false)(), g, q))
  }

  /** Gallery rows and queries of one kernel tile. */
  private val Tile = 4

  /** The largest integer magnitude up to which a double holds every
    * integer exactly. */
  private val ExactDouble = 1L << 53

  /** What the scan of one partition did: (query, gallery row) pairs
    * scored, and blocks scored in `long` arithmetic. */
  private[plans] final class Counts {
    var pairs = 0L
    var longBlocks = 0L
  }

  /** Integer vectors of `dim` elements, row-major, decoded once: the
    * elements as `long`s and as `double`s, each row's squared norm (a
    * wrapping `long`) and the range of all elements. Callers size it to
    * a multiple of [[Tile]] rows, so a kernel tile never reads past the
    * end. */
  private final class Vecs(capacity: Int, dim: Int) {
    val longs = new Array[Long](capacity * dim)
    val doubles = new Array[Double](capacity * dim)
    val norms = new Array[Long](capacity)
    var rows = 0
    private var lo = 0L
    private var hi = 0L

    def clear(): Unit = { rows = 0; lo = 0L; hi = 0L }

    /** Appends `v`, whose length and elements the caller checked. */
    def add(v: ArrayData): Unit = {
      val base = rows * dim
      var norm = 0L
      var j = 0
      while (j < dim) {
        val x = v.getLong(j)
        longs(base + j) = x
        doubles(base + j) = x.toDouble
        norm += x * x
        lo = math.min(lo, x); hi = math.max(hi, x)
        j += 1
      }
      norms(rows) = norm
      rows += 1
    }

    /** The largest |element| (`Long.MaxValue` for `Long.MinValue`). */
    def maxAbs: Long = if (lo == Long.MinValue) Long.MaxValue else math.max(hi, -lo)
  }

  /** Whether a dot of `dim` elements with |g| ≤ `mg` and |q| ≤ `mq` is
    * exact in double arithmetic. When dim · mg · mq ≤ 2⁵³, every product
    * and partial sum is an integer of magnitude at most 2⁵³, which a
    * double holds exactly, and so is every element of a nonzero product
    * (mq = 0: every product is 0). The test divides, so it cannot
    * overflow. */
  private[plans] def exactInDouble(mg: Long, mq: Long, dim: Int): Boolean =
    mq == 0 || mg <= ExactDouble / dim / mq

  /** The scan of one gallery partition. The query matrix is decoded once;
    * gallery rows stream through in blocks of [[BlockRows]]. Each block is
    * scored against every query by one register-tiled dot kernel: 4 rows
    * × 4 queries in 16 accumulators, D innermost, so each loaded element
    * serves four products. The exact integer score follows from the dot
    * and the squared norms taken while decoding:
    *
    *  - L2: ‖g‖² + ‖q‖² − 2·g·q, in wrapping `long` arithmetic. It is the
    *    same integer polynomial as Σ(g − q)², so the two agree mod 2⁶⁴:
    *    bit-identical on every input, overflow included;
    *  - dot: g·q;
    *  - cosine: `g·q / sqrt(‖g‖² · ‖q‖²)` in doubles (`cosineFromInts`'
    *    IEEE op order); a zero norm gives NaN, which ranks last.
    *
    * The kernel runs in `double` arithmetic when [[exactInDouble]] holds
    * for the block's and the query set's largest |element| (the bound is
    * checked per block), and otherwise in wrapping `long` arithmetic;
    * either way the dot is g·q mod 2⁶⁴, as a pair-at-a-time loop in
    * `long`s computes it. Each score is compared with its
    * query's current k-th key before [[TopKState.insert]]; once a buffer
    * is full, most pairs stop at that compare. Only Q·k rows leave the
    * partition. A null vector or a null gallery id is skipped; a null
    * element inside a vector throws `IllegalArgumentException` when its
    * row is decoded. */
  private[plans] def scanPartition(
      metric: KnnMetric, k: Int, queries: Array[InternalRow],
      qIdOrd: Int, qVecOrd: Int, gallery: Iterator[InternalRow],
      gIdOrd: Int, gVecOrd: Int, counts: Counts): Iterator[(InternalRow, TopKState)] = {
    // queries with a null vector score nothing (a null kernel result)
    val live = queries.filter(r => !r.isNullAt(qVecOrd))
    if (live.isEmpty || !gallery.hasNext) return Iterator.empty
    val nq = live.length
    val dim = live(0).getArray(qVecOrd).numElements()
    val qs = new Vecs(roundUp(nq), dim)
    for (r <- live) {
      val v = r.getArray(qVecOrd)
      if (v.numElements() != dim) throw new IllegalArgumentException(
        s"vector length mismatch: query vectors have $dim and ${v.numElements()} elements")
      IntVectorKernel.requireNoNullElement(v, "KnnScan query vector")
      qs.add(v)
    }
    val scorer = new Scorer(metric, k, qs, nq, dim)
    val block = new Vecs(BlockRows, dim)
    val ids = new Array[Long](BlockRows)
    while (gallery.hasNext) {
      block.clear()
      while (block.rows < BlockRows && gallery.hasNext) {
        val r = gallery.next()
        if (!r.isNullAt(gVecOrd)) {
          val v = r.getArray(gVecOrd)
          val len = v.numElements()
          if (len != dim) throw new IllegalArgumentException(
            s"vector length mismatch: gallery vector has $len elements, query vectors $dim")
          IntVectorKernel.requireNoNullElement(v, "KnnScan gallery vector")
          if (!r.isNullAt(gIdOrd)) {
            ids(block.rows) = r.getLong(gIdOrd)
            block.add(v)
          }
        }
      }
      if (block.rows > 0) {
        val exact = exactInDouble(block.maxAbs, qs.maxAbs, dim)
        counts.pairs += block.rows.toLong * nq
        if (!exact) counts.longBlocks += 1
        scorer.score(block, ids, exact)
      }
    }
    live.iterator.zip(scorer.states.iterator)
  }

  /** The top-k buffers of a query set, fed one block at a time. */
  private final class Scorer(metric: KnnMetric, k: Int, qs: Vecs, nq: Int, dim: Int) {
    val states: Array[TopKState] = Array.fill(nq)(new TopKState(k))
    // per query: the largest key that may still enter its buffer
    private val bounds = Array.fill(nq)(Double.PositiveInfinity)
    private val dots = new Array[Long](Tile * Tile)
    private val l2 = metric == KnnMetric.L2
    private val cosine = metric == KnnMetric.Cosine
    private val ascending = metric.ascending

    /** Offers every (row, query) pair of `block` to the query's buffer;
      * `exact`: the dots are taken in double arithmetic. Tile rows past
      * the block's last row, and tile queries past the last query, hold
      * stale data or zeros; their dots are discarded. */
    def score(block: Vecs, ids: Array[Long], exact: Boolean): Unit = {
      var q0 = 0
      while (q0 < nq) {
        var r0 = 0
        while (r0 < block.rows) {
          if (exact) tile(block.doubles, r0, qs.doubles, q0, dim, dots)
          else tile(block.longs, r0, qs.longs, q0, dim, dots)
          offerTile(block, ids, r0, q0)
          r0 += Tile
        }
        q0 += Tile
      }
    }

    /** The scores of one tile's dots, each offered to its query's buffer
      * behind the O(1) compare with the query's bound. */
    private def offerTile(block: Vecs, ids: Array[Long], r0: Int, q0: Int): Unit = {
      val rows = math.min(Tile, block.rows - r0)
      var j = 0
      while (j < Tile && q0 + j < nq) {
        val q = q0 + j
        val qn = qs.norms(q)
        val st = states(q)
        var i = 0
        while (i < rows) {
          val d = dots(i * Tile + j)
          val gn = block.norms(r0 + i)
          val s =
            if (l2) (gn + qn - 2 * d).toDouble
            else if (cosine) d.toDouble / math.sqrt(gn.toDouble * qn)
            else d.toDouble
          val key = if (ascending) s else -s
          if (!(key > bounds(q))) {
            st.insert(key, s, ids(r0 + i))
            if (st.size == k) bounds(q) = st.keys(k - 1)
          }
          i += 1
        }
        j += 1
      }
    }
  }

  private def roundUp(n: Int): Int = (n + Tile - 1) / Tile * Tile

  /** The 4 × 4 dots of gallery rows r0..r0+3 of `g` with queries
    * q0..q0+3 of `q` into `out` (row-major), in double arithmetic: exact
    * under [[exactInDouble]], where `fma` (one rounding) and `*` then `+`
    * give the same integers and `fma` takes one instruction. */
  private def tile(g: Array[Double], r0: Int, q: Array[Double], q0: Int,
                   dim: Int, out: Array[Long]): Unit = {
    val g0 = r0 * dim; val g1 = g0 + dim; val g2 = g1 + dim; val g3 = g2 + dim
    val p0 = q0 * dim; val p1 = p0 + dim; val p2 = p1 + dim; val p3 = p2 + dim
    var s00, s01, s02, s03, s10, s11, s12, s13 = 0.0
    var s20, s21, s22, s23, s30, s31, s32, s33 = 0.0
    var j = 0
    while (j < dim) {
      val a0 = g(g0 + j); val a1 = g(g1 + j); val a2 = g(g2 + j); val a3 = g(g3 + j)
      val b0 = q(p0 + j); val b1 = q(p1 + j); val b2 = q(p2 + j); val b3 = q(p3 + j)
      s00 = fma(a0, b0, s00); s01 = fma(a0, b1, s01)
      s02 = fma(a0, b2, s02); s03 = fma(a0, b3, s03)
      s10 = fma(a1, b0, s10); s11 = fma(a1, b1, s11)
      s12 = fma(a1, b2, s12); s13 = fma(a1, b3, s13)
      s20 = fma(a2, b0, s20); s21 = fma(a2, b1, s21)
      s22 = fma(a2, b2, s22); s23 = fma(a2, b3, s23)
      s30 = fma(a3, b0, s30); s31 = fma(a3, b1, s31)
      s32 = fma(a3, b2, s32); s33 = fma(a3, b3, s33)
      j += 1
    }
    out(0) = s00.toLong; out(1) = s01.toLong; out(2) = s02.toLong; out(3) = s03.toLong
    out(4) = s10.toLong; out(5) = s11.toLong; out(6) = s12.toLong; out(7) = s13.toLong
    out(8) = s20.toLong; out(9) = s21.toLong; out(10) = s22.toLong; out(11) = s23.toLong
    out(12) = s30.toLong; out(13) = s31.toLong; out(14) = s32.toLong; out(15) = s33.toLong
  }

  /** [[tile]] in wrapping `long` arithmetic: the exact dot mod 2⁶⁴ for
    * blocks outside [[exactInDouble]]'s bound. */
  private def tile(g: Array[Long], r0: Int, q: Array[Long], q0: Int,
                   dim: Int, out: Array[Long]): Unit = {
    val g0 = r0 * dim; val g1 = g0 + dim; val g2 = g1 + dim; val g3 = g2 + dim
    val p0 = q0 * dim; val p1 = p0 + dim; val p2 = p1 + dim; val p3 = p2 + dim
    var s00, s01, s02, s03, s10, s11, s12, s13 = 0L
    var s20, s21, s22, s23, s30, s31, s32, s33 = 0L
    var j = 0
    while (j < dim) {
      val a0 = g(g0 + j); val a1 = g(g1 + j); val a2 = g(g2 + j); val a3 = g(g3 + j)
      val b0 = q(p0 + j); val b1 = q(p1 + j); val b2 = q(p2 + j); val b3 = q(p3 + j)
      s00 += a0 * b0; s01 += a0 * b1; s02 += a0 * b2; s03 += a0 * b3
      s10 += a1 * b0; s11 += a1 * b1; s12 += a1 * b2; s13 += a1 * b3
      s20 += a2 * b0; s21 += a2 * b1; s22 += a2 * b2; s23 += a2 * b3
      s30 += a3 * b0; s31 += a3 * b1; s32 += a3 * b2; s33 += a3 * b3
      j += 1
    }
    out(0) = s00; out(1) = s01; out(2) = s02; out(3) = s03
    out(4) = s10; out(5) = s11; out(6) = s12; out(7) = s13
    out(8) = s20; out(9) = s21; out(10) = s22; out(11) = s23
    out(12) = s30; out(13) = s31; out(14) = s32; out(15) = s33
  }
}

/** Plans [[KnnScan]] as [[KnnScanExec]]. */
object KnnScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: KnnScan =>
      KnnScanExec(s.metric, s.k, s.galleryId, s.galleryVec, s.queryId,
        s.queryVec, s.score, planLater(s.left), planLater(s.right)) :: Nil
    case _ => Nil
  }

  /** Add the strategy to a live session once. */
  def install(spark: SparkSession): Unit = {
    val extra = spark.experimental.extraStrategies
    if (!extra.contains(KnnScanStrategy))
      spark.experimental.extraStrategies = KnnScanStrategy +: extra
  }
}

/** Physical [[KnnScan]]: the query side arrives through a
  * `BroadcastExchange` (as `BroadcastNestedLoopJoinExec` requires it),
  * each gallery task scans its partition with
  * [[KnnScan.scanPartition]]. Besides its output rows it counts the
  * (query, gallery row) pairs scored and the blocks scored in `long`
  * arithmetic (0 while every block is within the double path's bound). */
case class KnnScanExec(metric: KnnMetric, k: Int,
                       galleryId: Attribute, galleryVec: Attribute,
                       queryId: Attribute, queryVec: Attribute,
                       score: Attribute, left: SparkPlan, right: SparkPlan)
    extends BinaryExecNode {
  override def output: Seq[Attribute] = Seq(queryId, galleryId, score)
  override def producedAttributes: AttributeSet = AttributeSet(score)
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(left.outputPartitioning.numPartitions)
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numPairsScored" -> SQLMetrics.createMetric(sparkContext, "number of pairs scored"),
    "numLongBlocks" -> SQLMetrics.createMetric(sparkContext,
      "number of blocks scored in long arithmetic"))

  override protected def doExecute(): RDD[InternalRow] = {
    val broadcast = right.executeBroadcast[Array[InternalRow]]()
    val numOutputRows = longMetric("numOutputRows")
    val (numPairs, numLongBlocks) = (longMetric("numPairsScored"), longMetric("numLongBlocks"))
    def ordinal(a: Attribute, in: Seq[Attribute]) = in.indexWhere(_.exprId == a.exprId)
    val (gId, gVec) = (ordinal(galleryId, left.output), ordinal(galleryVec, left.output))
    val (qId, qVec) = (ordinal(queryId, right.output), ordinal(queryVec, right.output))
    val (metric, k, schema) = (this.metric, this.k, output.map(_.dataType))
    left.execute().mapPartitions { gallery =>
      val project = UnsafeProjection.create(schema.toArray)
      val row = new GenericInternalRow(3)
      val counts = new KnnScan.Counts
      val scanned =
        KnnScan.scanPartition(metric, k, broadcast.value, qId, qVec, gallery, gId, gVec, counts)
      numPairs += counts.pairs
      numLongBlocks += counts.longBlocks
      scanned.flatMap { case (query, st) =>
        val qid = if (query.isNullAt(qId)) null else query.getLong(qId)
        Iterator.range(0, st.size).map { i =>
          numOutputRows += 1
          row.update(0, qid); row.update(1, st.ids(i)); row.update(2, st.scores(i))
          project(row)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): KnnScanExec =
    copy(left = newLeft, right = newRight)
}
