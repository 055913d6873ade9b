package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Flat element-wise sums of `size` slots, the buffer of the vector-sum
  * aggregates: exact Long sums of array<bigint> inputs, or double sums
  * of array<double> inputs, added in arrival order as Spark's `sum` over
  * doubles adds them. */
final class SumBuffer(val exact: Boolean, val size: Int) {
  private val longs = if (exact) new Array[Long](size) else null
  private val doubles = if (exact) null else new Array[Double](size)

  /** Adds `v[src .. src+n)` into slots `[dst, dst+n)`. */
  def add(dst: Int, v: ArrayData, src: Int, n: Int): Unit = {
    var i = 0
    if (exact) while (i < n) { longs(dst + i) += v.getLong(src + i); i += 1 }
    else while (i < n) { doubles(dst + i) += v.getDouble(src + i); i += 1 }
  }

  def merge(o: SumBuffer): Unit = {
    var i = 0
    if (exact) while (i < size) { longs(i) += o.longs(i); i += 1 }
    else while (i < size) { doubles(i) += o.doubles(i); i += 1 }
  }

  /** Slots `[off, off+n)` as an array<bigint> or array<double> value. */
  def slice(off: Int, n: Int): ArrayData =
    if (exact) new GenericArrayData(java.util.Arrays.copyOfRange(longs, off, off + n))
    else new GenericArrayData(java.util.Arrays.copyOfRange(doubles, off, off + n))

  /** 8 bytes per slot (a double as its raw bits). */
  def write(buf: ByteBuffer): Unit = {
    var i = 0
    if (exact) while (i < size) { buf.putLong(longs(i)); i += 1 }
    else while (i < size) { buf.putDouble(doubles(i)); i += 1 }
  }

  def read(buf: ByteBuffer): Unit = {
    var i = 0
    if (exact) while (i < size) { longs(i) = buf.getLong(); i += 1 }
    else while (i < size) { doubles(i) = buf.getDouble(); i += 1 }
  }
}

object SumBuffer {
  /** Whether a vector column of type `t` sums exactly (bigint elements)
    * or in doubles; other types fail the aggregates' type check. */
  def exactFor(t: DataType): Option[Boolean] = t match {
    case ArrayType(LongType, _) => Some(true)
    case ArrayType(DoubleType, _) => Some(false)
    case _ => None
  }

  def typeCheck(t: DataType, fn: String): TypeCheckResult =
    if (exactFor(t).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn: vector must be array<bigint> or array<double>, got ${t.simpleString}")
}

/** Element-wise running sum of a vector column. `sums` stays null until
  * the first non-null input fixes the dimensionality. */
final class VecSumState(val exact: Boolean) {
  var sums: SumBuffer = null

  def add(arr: ArrayData): Unit = {
    val n = arr.numElements()
    if (sums == null) sums = new SumBuffer(exact, n)
    sums.add(0, arr, 0, n)
  }
}

/** Native element-wise vector-sum aggregate — the exact-centroid
  * carrier ((n, Σ) pairs, never a float mean) computed in ONE pass
  * over the vector column. The previous shape posexploded the gallery
  * into (label, dim, x) rows — dim× the row volume through the
  * aggregate — and re-assembled per-label arrays with
  * `array_sort(collect_list(struct(...)))`; this expression reads each
  * array once into a primitive buffer. Map-side partial
  * aggregation applies: the shuffle carries one 8·dim-byte buffer per
  * (group, partition), never a row per element.
  *
  * An array<bigint> input sums exactly (the exploded form's `sum(x)`
  * Long): per-dim |Σx| ≤ rows · scale · max|x| — at scale 10⁴ and
  * |x| ≤ 10, Long holds a class to ~10¹⁴ rows; larger classes must shard
  * the report. An array<double> input sums in doubles (the IVF Lloyd
  * round, whose mean is Σ/n as `avg` computes it).
  * Input rows with a NULL vector are skipped (the exploded form
  * generated no rows for them); a group with only NULL vectors
  * evaluates to NULL.
  */
case class VectorSumAggregate(
    vecChild: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecSumState] {

  override def children: Seq[Expression] = Seq(vecChild)
  override def nullable: Boolean = true
  override def dataType: DataType = vecChild.dataType match {
    case ArrayType(t, _) => ArrayType(t, containsNull = false)
    case t => t
  }
  override def prettyName: String = "graft_vecsum"
  override def checkInputDataTypes(): TypeCheckResult =
    SumBuffer.typeCheck(vecChild.dataType, prettyName)

  @transient private lazy val exact: Boolean =
    SumBuffer.exactFor(vecChild.dataType).get

  override def createAggregationBuffer(): VecSumState = new VecSumState(exact)

  override def update(b: VecSumState, input: InternalRow): VecSumState = {
    val raw = vecChild.eval(input)
    if (raw != null) b.add(raw.asInstanceOf[ArrayData])
    b
  }

  override def merge(b: VecSumState, other: VecSumState): VecSumState = {
    if (other.sums != null) {
      if (b.sums == null) b.sums = new SumBuffer(exact, other.sums.size)
      b.sums.merge(other.sums)
    }
    b
  }

  override def eval(b: VecSumState): Any =
    if (b.sums == null) null else b.sums.slice(0, b.sums.size)

  override def serialize(b: VecSumState): Array[Byte] = {
    val n = if (b.sums == null) -1 else b.sums.size
    val buf = ByteBuffer.allocate(4 + math.max(n, 0) * 8)
    buf.putInt(n)
    if (b.sums != null) b.sums.write(buf)
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): VecSumState = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt()
    val b = new VecSumState(exact)
    if (n >= 0) {
      b.sums = new SumBuffer(exact, n)
      b.sums.read(buf)
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSumAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorSumAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorSumAggregate =
    copy(vecChild = newChildren(0))
}
