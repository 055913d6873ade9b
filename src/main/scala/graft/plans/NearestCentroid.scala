package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** The index-build kernels of IVF and PQ: the nearest of a literal
  * centroid set, and the residual against an assigned centroid. Each is
  * one compiled loop over primitive arrays with no lambda, in place of
  * the per-row Catalyst trees they replace: an `array_min` over one
  * `struct(distance, cid)` per centroid (a `zip_with` + `aggregate`
  * distance for the float path), and a `zip_with` subtract against a
  * literal `map` lookup. Centroids are broadcast-sized by the IVF/PQ
  * contract (nlist × dim, ksub × sub), so they ride the expression as
  * literal Seqs and the projection stays map-only.
  *
  * A [[NearestCentroid]] reads the slice `[from, from + len)` of a
  * vector of `dim` elements, `len` being the centroid length: the whole
  * vector for IVF assignment (`from` 0, `len` = `dim`), one subspace for
  * PQ. Its value is the winning `struct<d2, cid>`, the same struct the
  * `array_min` form returned:
  *  - [[IntNearestCentroid]]: exact integer squared L2 of quantized
  *    vectors (`graft_l2sq`'s arithmetic), d2 a bigint;
  *  - [[DoubleNearestCentroid]]: the double left fold
  *    `acc = acc + (x - c) * (x - c)` from 0.0, d2 a double,
  *    bit-identical to `aggregate(zip_with((x - y) * (x - y)), 0.0)`.
  *
  * The argmin orders by (d2, cid) as Spark orders the struct: ties go to
  * the lowest cid, and a NaN d2 is larger than every number and equal to
  * another NaN. A null vector gives a null struct; a null element inside
  * the slice, or a vector whose length is not `dim`, throws
  * `IllegalArgumentException` (the replaced forms read a null element as
  * 0, or padded a short vector with nulls, and silently picked a cid). */
abstract class NearestCentroid extends UnaryExpression {
  def dim: Int
  def from: Int
  def cids: Seq[Long]
  protected def centroidCount: Int
  protected def elementType: DataType

  /** Centroid length: the slice of the vector each candidate scores. */
  @transient lazy val len: Int = centroidCount / cids.length

  /** Called from each subclass body, once its fields are set. */
  protected def checkShape(): Unit = {
    require(cids.nonEmpty, s"$prettyName: empty centroid set")
    require(cids.zip(cids.tail).forall { case (a, b) => a <= b },
      s"$prettyName: cids must be ascending")
    require(len > 0 && centroidCount == len * cids.length,
      s"$prettyName: ragged centroid set")
    require(from >= 0 && from + len <= dim,
      s"$prettyName: slice [$from, ${from + len}) outside a $dim-element vector")
  }

  /** The output types of the `array_min(struct(...))` form: a nullable
    * struct, so the codes and centroid ids built on it keep their
    * schema (persisted stores included). */
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("d2", elementType, nullable = false),
    StructField("cid", LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == elementType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"input must be ${ArrayType(elementType).simpleString}, got ${t.simpleString}")
  }
  override def toString: String =
    s"$prettyName($child, ${cids.length} centroids, [$from, ${from + len}))"

  /** Checks the length of `v` and the nulls of its `n`-element slice. */
  protected def checkVector(v: ArrayData, n: Int): Unit = {
    if (v.numElements() != dim) throw new IllegalArgumentException(
      s"$prettyName: vector has ${v.numElements()} elements, the centroids " +
        s"expect $dim")
    var i = from
    while (i < from + n) {
      if (v.isNullAt(i)) throw new IllegalArgumentException(
        s"$prettyName: null element at position $i")
      i += 1
    }
  }

  def compute(v: ArrayData): InternalRow

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearest", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
}

/** Exact integer nearest centroid (see [[NearestCentroid]]). `cents`
  * holds the quantized centroids row after row, in `cids` order. */
case class IntNearestCentroid(child: Expression, dim: Int, from: Int,
                              cids: Seq[Long], cents: Seq[Long])
    extends NearestCentroid {
  override def prettyName: String = "graft_nearest_centroid"
  protected def centroidCount: Int = cents.length
  protected def elementType: DataType = LongType
  checkShape()

  @transient private lazy val cidArr: Array[Long] = cids.toArray
  @transient private lazy val centArr: Array[Long] = cents.toArray

  def compute(v: ArrayData): InternalRow = {
    val n = len
    checkVector(v, n)
    val x = new Array[Long](n)
    var i = 0
    while (i < n) { x(i) = v.getLong(from + i); i += 1 }
    val cents = centArr // a local: the loops must not re-read the lazy val
    val labs = cidArr
    val nc = labs.length
    var best = 0
    var bestD2 = 0L
    var c = 0
    var off = 0
    while (c < nc) {
      var d2 = 0L
      i = 0
      while (i < n) { val d = x(i) - cents(off + i); d2 += d * d; i += 1 }
      // ascending cids and a strict `<`: ties keep the lowest cid
      if (c == 0 || d2 < bestD2) { best = c; bestD2 = d2 }
      c += 1
      off += n
    }
    InternalRow(bestD2, labs(best))
  }

  override protected def withNewChildInternal(newChild: Expression)
      : IntNearestCentroid = copy(child = newChild)
}

/** Double-fold nearest centroid (see [[NearestCentroid]]). `cents`
  * holds the centroids row after row, in `cids` order. */
case class DoubleNearestCentroid(child: Expression, dim: Int, from: Int,
                                 cids: Seq[Long], cents: Seq[Double])
    extends NearestCentroid {
  override def prettyName: String = "graft_nearest_centroid_f64"
  protected def centroidCount: Int = cents.length
  protected def elementType: DataType = DoubleType
  checkShape()

  @transient private lazy val cidArr: Array[Long] = cids.toArray
  @transient private lazy val centArr: Array[Double] = cents.toArray

  /** a < b in Spark's double ordering (NaN largest and equal to NaN,
    * -0.0 equal to 0.0). */
  @inline private def less(a: Double, b: Double): Boolean =
    a != b && java.lang.Double.compare(a, b) < 0

  def compute(v: ArrayData): InternalRow = {
    val n = len
    checkVector(v, n)
    val x = new Array[Double](n)
    var i = 0
    while (i < n) { x(i) = v.getDouble(from + i); i += 1 }
    val cents = centArr
    val labs = cidArr
    val nc = labs.length
    var best = 0
    var bestD2 = 0.0
    var c = 0
    var off = 0
    while (c < nc) {
      var d2 = 0.0
      i = 0
      while (i < n) { val d = x(i) - cents(off + i); d2 = d2 + d * d; i += 1 }
      if (c == 0 || less(d2, bestD2)) { best = c; bestD2 = d2 }
      c += 1
      off += n
    }
    InternalRow(bestD2, labs(best))
  }

  override protected def withNewChildInternal(newChild: Expression)
      : DoubleNearestCentroid = copy(child = newChild)
}

/** Residual `v − centroid(cid)` of an array<double> against a literal
  * centroid set, element by element in one loop: the by-residual
  * IVF-PQ input, in place of a `zip_with` subtract over a literal `map`
  * lookup. A null vector or cid gives null; a cid outside the set, a
  * null element or a length other than the centroids' throws
  * `IllegalArgumentException`. */
case class CentroidResidual(left: Expression, right: Expression,
                            cids: Seq[Long], cents: Seq[Double])
    extends BinaryExpression {
  require(cids.nonEmpty && cents.length % cids.length == 0,
    "graft_centroid_residual: ragged centroid set")
  require(cids.zip(cids.tail).forall { case (a, b) => a < b },
    "graft_centroid_residual: cids must be ascending and distinct")

  override def prettyName: String = "graft_centroid_residual"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"inputs must be (array<double>, bigint), got (${l.simpleString}, " +
          s"${r.simpleString})")
    }
  override def toString: String =
    s"$prettyName($left, $right, ${cids.length} centroids)"

  @transient private lazy val cidArr: Array[Long] = cids.toArray
  @transient private lazy val centArr: Array[Double] = cents.toArray
  @transient private lazy val dim: Int = cents.length / cids.length

  def compute(v: ArrayData, cid: Long): ArrayData = {
    val n = v.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"$prettyName: vector has $n elements, the centroids have $dim")
    val c = java.util.Arrays.binarySearch(cidArr, cid)
    if (c < 0) throw new IllegalArgumentException(
      s"$prettyName: cid $cid is not in the centroid set")
    val cents = centArr
    val out = new Array[Double](n)
    val off = c * n
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) throw new IllegalArgumentException(
        s"$prettyName: null element at position $i")
      out(i) = v.getDouble(i) - cents(off + i)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def nullSafeEval(v: Any, cid: Any): Any =
    compute(v.asInstanceOf[ArrayData], cid.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("residual", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, (v, cid) => s"${ev.value} = $ref.compute($v, $cid);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidResidual =
    copy(left = newLeft, right = newRight)
}

/** Column API of the kernels; centroids are (cid, values) pairs in any
  * order. */
object CentroidKernels {
  /** Nearest quantized centroid of `qv`'s slice from `from`:
    * `struct<d2: bigint, cid: bigint>`. */
  def nearestInt(qv: Column, dim: Int, from: Int,
                 cents: Seq[(Long, Array[Long])]): Column = {
    val s = cents.sortBy(_._1)
    GraftSqlBridge.column(IntNearestCentroid(GraftSqlBridge.expression(qv),
      dim, from, s.map(_._1).toIndexedSeq, s.flatMap(_._2).toIndexedSeq))
  }

  /** Nearest centroid of `v`'s slice from `from` under the double fold:
    * `struct<d2: double, cid: bigint>`. */
  def nearestDouble(v: Column, dim: Int, from: Int,
                    cents: Seq[(Long, Array[Double])]): Column = {
    val s = cents.sortBy(_._1)
    GraftSqlBridge.column(DoubleNearestCentroid(GraftSqlBridge.expression(v),
      dim, from, s.map(_._1).toIndexedSeq, s.flatMap(_._2).toIndexedSeq))
  }

  /** `v − centroid(cid)` as array<double>. */
  def residual(v: Column, cid: Column,
               cents: Seq[(Long, Array[Double])]): Column = {
    val s = cents.sortBy(_._1)
    GraftSqlBridge.column(CentroidResidual(GraftSqlBridge.expression(v),
      GraftSqlBridge.expression(cid), s.map(_._1).toIndexedSeq,
      s.flatMap(_._2).toIndexedSeq))
  }
}
