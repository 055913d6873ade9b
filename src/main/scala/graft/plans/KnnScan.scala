package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnknownPartitioning, UnspecifiedDistribution}
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

  /** The scan of one gallery partition. The query matrix is decoded once
    * into a contiguous `long[Q·D]`; gallery rows stream through in
    * blocks of [[BlockRows]] decoded into a contiguous `long[]`, each
    * block scored against every query in a tight loop into that query's
    * bounded [[TopKState]]. Only Q·k rows leave the partition. A null
    * vector is skipped; a null element inside a vector throws
    * `IllegalArgumentException` when its row is decoded. */
  private[plans] def scanPartition(
      metric: KnnMetric, k: Int, queries: Array[InternalRow],
      qIdOrd: Int, qVecOrd: Int, gallery: Iterator[InternalRow],
      gIdOrd: Int, gVecOrd: Int): Iterator[(InternalRow, TopKState)] = {
    // queries with a null vector score nothing (a null kernel result)
    val live = queries.filter(r => !r.isNullAt(qVecOrd))
    if (live.isEmpty || !gallery.hasNext) return Iterator.empty
    val nq = live.length
    val dim = live(0).getArray(qVecOrd).numElements()
    val qMat = new Array[Long](nq * dim)
    val qNorm = new Array[Long](nq)
    var q = 0
    while (q < nq) {
      val v = live(q).getArray(qVecOrd)
      if (v.numElements() != dim) throw new IllegalArgumentException(
        s"vector length mismatch: query vectors have $dim and ${v.numElements()} elements")
      IntVectorKernel.requireNoNullElement(v, "KnnScan query vector")
      var j = 0
      while (j < dim) { qMat(q * dim + j) = v.getLong(j); j += 1 }
      qNorm(q) = dot(qMat, q * dim, qMat, q * dim, dim)
      q += 1
    }
    val states = Array.fill(nq)(new TopKState(k))
    val block = new Array[Long](BlockRows * dim)
    val ids = new Array[Long](BlockRows)
    val gNorm = new Array[Long](BlockRows)
    while (gallery.hasNext) {
      var n = 0
      while (n < BlockRows && gallery.hasNext) {
        val r = gallery.next()
        if (!r.isNullAt(gVecOrd)) {
          val v = r.getArray(gVecOrd)
          val len = v.numElements()
          if (len != dim) throw new IllegalArgumentException(
            s"vector length mismatch: gallery vector has $len elements, query vectors $dim")
          IntVectorKernel.requireNoNullElement(v, "KnnScan gallery vector")
          if (!r.isNullAt(gIdOrd)) {
            val base = n * dim
            var j = 0
            while (j < dim) { block(base + j) = v.getLong(j); j += 1 }
            ids(n) = r.getLong(gIdOrd)
            if (metric == KnnMetric.Cosine)
              gNorm(n) = dot(block, base, block, base, dim)
            n += 1
          }
        }
      }
      q = 0
      while (q < nq) {
        val st = states(q)
        val qBase = q * dim
        var i = 0
        metric match {
          case KnnMetric.L2 => while (i < n) {
            val s = l2sq(block, i * dim, qMat, qBase, dim).toDouble
            offer(st, s, s, ids(i)); i += 1
          }
          case KnnMetric.Dot => while (i < n) {
            val s = dot(block, i * dim, qMat, qBase, dim).toDouble
            offer(st, -s, s, ids(i)); i += 1
          }
          case KnnMetric.Cosine => while (i < n) {
            val s = dot(block, i * dim, qMat, qBase, dim).toDouble /
              math.sqrt(gNorm(i).toDouble * qNorm(q))
            offer(st, -s, s, ids(i)); i += 1
          }
        }
        q += 1
      }
    }
    live.iterator.zip(states.iterator)
  }

  /** [[TopKState.insert]] behind its O(1) reject, inlined here: once a
    * buffer is full, most rows stop at this compare. */
  @inline private def offer(st: TopKState, key: Double, s: Double,
                            id: Long): Unit =
    if (st.size < st.k || !(key > st.keys(st.k - 1))) st.insert(key, s, id)

  private def l2sq(a: Array[Long], ao: Int, b: Array[Long], bo: Int,
                   n: Int): Long = {
    var acc = 0L
    var j = 0
    while (j < n) {
      val d = a(ao + j) - b(bo + j)
      acc += d * d
      j += 1
    }
    acc
  }

  private def dot(a: Array[Long], ao: Int, b: Array[Long], bo: Int,
                  n: Int): Long = {
    var acc = 0L
    var j = 0
    while (j < n) { acc += a(ao + j) * b(bo + j); j += 1 }
    acc
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
  * [[KnnScan.scanPartition]]. */
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
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val broadcast = right.executeBroadcast[Array[InternalRow]]()
    val numOutputRows = longMetric("numOutputRows")
    def ordinal(a: Attribute, in: Seq[Attribute]) = in.indexWhere(_.exprId == a.exprId)
    val (gId, gVec) = (ordinal(galleryId, left.output), ordinal(galleryVec, left.output))
    val (qId, qVec) = (ordinal(queryId, right.output), ordinal(queryVec, right.output))
    val (metric, k, schema) = (this.metric, this.k, output.map(_.dataType))
    left.execute().mapPartitions { gallery =>
      val project = UnsafeProjection.create(schema.toArray)
      val row = new GenericInternalRow(3)
      KnnScan.scanPartition(metric, k, broadcast.value, qId, qVec, gallery, gId, gVec)
        .flatMap { case (query, st) =>
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
