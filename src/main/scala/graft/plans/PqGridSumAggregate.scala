package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** (subspace, code)-grid accumulator for PQ codebook training: per
  * grid cell `lab = j·ksub + code`, the member count and the
  * element-wise sum of the subspace slice `qv[j·sub .. j·sub+sub)`.
  * One flat primitive buffer (m·ksub counts + m·ksub·sub sums — 9 KB
  * at 8×16×8) per partition; the sums are exact Longs or doubles, as
  * the vector's element type (see [[SumBuffer]]). */
final class PqGridState(val m: Int, val ksub: Int, val sub: Int,
                        exact: Boolean) {
  val counts = new Array[Long](m * ksub)
  val sums = new SumBuffer(exact, m * ksub * sub)

  def add(qv: ArrayData, codes: ArrayData): Unit = {
    // the function is on the public SQL surface (graft_pq_grid_sums),
    // so malformed inputs must fail loudly instead of silently adding
    // into an adjacent subspace's cell / reading past the arrays
    require(codes.numElements() == m,
      s"graft_pq_grid_sums: codes length ${codes.numElements()} != m=$m")
    require(qv.numElements() == m * sub,
      s"graft_pq_grid_sums: vector length ${qv.numElements()} != " +
        s"m*sub=${m * sub}")
    var j = 0
    while (j < m) {
      val cl = codes.getLong(j)
      require(cl >= 0 && cl < ksub,
        s"graft_pq_grid_sums: code $cl at subspace $j outside [0, $ksub)")
      val c = cl.toInt
      counts(j * ksub + c) += 1
      sums.add((j * ksub + c) * sub, qv, j * sub, sub)
      j += 1
    }
  }

  def mergeFrom(o: PqGridState): Unit = {
    var x = 0
    while (x < counts.length) { counts(x) += o.counts(x); x += 1 }
    sums.merge(o.sums)
  }
}

/** Native (subspace, code)-grid class-sums aggregate — the Lloyd-round
  * carrier of trained-PQ codebooks (v78/v87) in ONE pass over the
  * UNSLICED vector column. The previous shape posexploded every vector
  * into m subspace rows (8× the row volume, localCheckpointed per
  * round at 40M rows on the data-bound point) and rolled them up with
  * the generic vector-sum aggregate keyed by lab; this expression
  * reads (qv, codes) once per vector into a 9 KB primitive buffer —
  * the GramAggregate recipe applied to PQ training. An array<bigint>
  * vector sums exactly, with the same bound as the exploded form's
  * VectorSumAggregate (per-dim |Σx| ≤ rows · scale · max|x|); an
  * array<double> vector sums in doubles (`PqIndex.train`, whose means
  * are Σ/n as `avg` computes them). Output: one array of
  * (lab, n, svec) structs for the m·ksub grid cells in lab order,
  * empty cells carried with n = 0 (the caller filters — the exploded
  * form simply produced no row for them). Rows with a NULL vector or
  * NULL codes are skipped. */
case class PqGridSumAggregate(
    qvChild: Expression, codesChild: Expression,
    m: Int, ksub: Int, sub: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PqGridState] {

  override def children: Seq[Expression] = Seq(qvChild, codesChild)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("lab", LongType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("svec", ArrayType(elementType, containsNull = false),
      nullable = false))), containsNull = false)
  override def prettyName: String = "graft_pq_grid_sums"
  override def checkInputDataTypes(): TypeCheckResult =
    SumBuffer.typeCheck(qvChild.dataType, prettyName)

  private def elementType: DataType = qvChild.dataType match {
    case ArrayType(t, _) => t
    case t => t
  }
  @transient private lazy val exact: Boolean =
    SumBuffer.exactFor(qvChild.dataType).get

  override def createAggregationBuffer(): PqGridState =
    new PqGridState(m, ksub, sub, exact)

  override def update(b: PqGridState, input: InternalRow): PqGridState = {
    val qv = qvChild.eval(input)
    val codes = codesChild.eval(input)
    if (qv != null && codes != null)
      b.add(qv.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData])
    b
  }

  override def merge(b: PqGridState, o: PqGridState): PqGridState = {
    b.mergeFrom(o)
    b
  }

  override def eval(b: PqGridState): Any = {
    val out = new Array[Any](m * ksub)
    var lab = 0
    while (lab < out.length) {
      out(lab) = InternalRow(lab.toLong, b.counts(lab),
        b.sums.slice(lab * sub, sub))
      lab += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: PqGridState): Array[Byte] = {
    val buf = ByteBuffer.allocate((b.counts.length + b.sums.size) * 8)
    b.counts.foreach(buf.putLong)
    b.sums.write(buf)
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): PqGridState = {
    val buf = ByteBuffer.wrap(bytes)
    val b = new PqGridState(m, ksub, sub, exact)
    var x = 0
    while (x < b.counts.length) { b.counts(x) = buf.getLong(); x += 1 }
    b.sums.read(buf)
    b
  }

  override def withNewMutableAggBufferOffset(n: Int): PqGridSumAggregate =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): PqGridSumAggregate =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): PqGridSumAggregate =
    copy(qvChild = c(0), codesChild = c(1))
}
