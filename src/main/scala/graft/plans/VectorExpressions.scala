package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.unsafe.Platform

/** Native Catalyst expressions for the fixed-point vector kernels — the
  * hot inner loops of every KNN/IVF/near-dup query.
  *
  * [[IntVectorL2Sq]] and [[IntVectorDot]] score two quantized vectors.
  * The composed `zip_with` + `aggregate` form allocates an intermediate
  * array per row pair and runs interpreted lambdas per element (Spark's
  * higher-order functions are `CodegenFallback`); these fused kernels
  * emit one tight Java loop (`doGenCode`) with zero allocation, which is
  * what you want when the gallery side is 100 TB streaming past a
  * broadcast query set. Semantics are IDENTICAL to the composed form
  * (exact Long arithmetic), so oracle results are unchanged. A null
  * vector gives null. A null element, or arrays of different lengths,
  * throw an `IllegalArgumentException`: `getLong` reads a null slot as
  * 0, and `UnsafeArrayData`'s bounds check is a JVM assert, off in
  * production, so reading on past the shorter array would return a
  * number from adjacent memory.
  *
  * [[Quantize]] is `VectorFunctions.quantize` in one loop, bit-identical
  * to the `transform(v, x => round(x * scale).cast("long"))` it replaces
  * (an interpreted lambda and a `java.math.BigDecimal` round per
  * element). It is deliberately a `CodegenFallback` (native
  * `nullSafeEval`, no `doGenCode`): whole-stage codegen never fuses a
  * node holding one, so stage boundaries stay where `transform` put
  * them. A codegen'd quantize let the gallery's Project fuse into a
  * codegen'd `BroadcastNestedLoopJoin`, whose deferred evaluation then
  * quantized the gallery vector once per (query, gallery) pair.
  */
abstract class IntVectorKernel extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))

  /** Element count of `a`, after checking `b` has as many and neither
    * holds a null element. */
  protected def length(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (b.numElements() != n) throw new IllegalArgumentException(
      s"$prettyName: array lengths differ: left has $n elements, right has " +
        b.numElements())
    IntVectorKernel.requireNoNullElement(a, prettyName)
    IntVectorKernel.requireNoNullElement(b, prettyName)
    n
  }

  /** Generated-code twin of [[length]]: declares `n` as `a`'s length. */
  protected def genLength(a: String, b: String, n: String): String =
    s"""
       |final int $n = $a.numElements();
       |if ($b.numElements() != $n) {
       |  throw new IllegalArgumentException("$prettyName: array lengths " +
       |    "differ: left has " + $n + " elements, right has " + $b.numElements());
       |}
       |graft.plans.IntVectorKernel.requireNoNullElement($a, "$prettyName");
       |graft.plans.IntVectorKernel.requireNoNullElement($b, "$prettyName");
     """.stripMargin
}

object IntVectorKernel {
  /** Throws `IllegalArgumentException` if `v` holds a null element. An
    * `UnsafeArrayData` (the quantized vectors) is checked one 64-slot
    * word of its null bitmap at a time, so a kernel pays n/64 loads for
    * the check, not n. */
  def requireNoNullElement(v: ArrayData, name: String): Unit = v match {
    case u: UnsafeArrayData =>
      // layout: [numElements: 8 bytes][null bitmap: 64-bit words][values]
      val words = (u.numElements() + 63) / 64
      var w = 0
      while (w < words) {
        val bits = Platform.getLong(u.getBaseObject, u.getBaseOffset + 8L * (w + 1))
        if (bits != 0) throw nullElement(name,
          w * 64 + java.lang.Long.numberOfTrailingZeros(bits))
        w += 1
      }
    case _ =>
      var i = 0
      while (i < v.numElements()) {
        if (v.isNullAt(i)) throw nullElement(name, i)
        i += 1
      }
  }

  private def nullElement(name: String, i: Int) =
    new IllegalArgumentException(s"$name: null element at position $i")
}

/** Exact integer squared L2 distance: sum_i (a_i - b_i)^2. */
case class IntVectorL2Sq(left: Expression, right: Expression)
    extends IntVectorKernel {
  override def prettyName: String = "graft_l2sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = length(x, y)
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |${genLength(a, b, n)}
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  final long $d = $a.getLong($i) - $b.getLong($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact integer dot product: sum_i a_i * b_i. */
case class IntVectorDot(left: Expression, right: Expression)
    extends IntVectorKernel {
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = length(x, y)
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |${genLength(a, b, n)}
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fixed-point quantize of an array<double>: each element becomes
  * round(x * scale) as Long, ties away from zero — the value of Spark's
  * `round(x * scale).cast("long")`. Null arrays and elements stay null;
  * the result type is the `transform` form's (its `round` is nullable).
  * NaN, ±Inf and products outside the Long range follow the cast: with
  * `failOnError` (ANSI, captured at construction like `Cast`'s) they
  * throw `[CAST_OVERFLOW]`, otherwise NaN is 0 and the rest clamp. */
case class Quantize(child: Expression, scale: Int,
                    failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def prettyName: String = "graft_quantize"
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(input: Any): Any = {
    val in = input.asInstanceOf[ArrayData]
    val out = new Array[Long](in.numElements())
    var nulls = false
    var i = 0
    while (i < out.length) {
      if (in.isNullAt(i)) nulls = true
      else out(i) = Quantize.toFixed(in.getDouble(i), scale, failOnError)
      i += 1
    }
    if (!nulls) UnsafeArrayData.fromPrimitiveArray(out)
    else new GenericArrayData(Array.tabulate[Any](out.length)(j =>
      if (in.isNullAt(j)) null else out(j)))
  }

  override protected def withNewChildInternal(newChild: Expression): Quantize =
    copy(child = newChild)
}

object Quantize {
  /** One element: HALF_UP without BigDecimal (`|d| - floor(|d|)` is exact
    * below 2^52, and larger doubles are integers); NaN and ±Inf reach the
    * cast. Driver code that quantizes collected centroids calls this too,
    * so its values equal the expression's. */
  def toFixed(x: Double, scale: Int,
              failOnError: Boolean = SQLConf.get.ansiEnabled): Long = {
    val d = x * scale
    val a = Math.abs(d)
    val t = Math.floor(a)
    val r = Math.copySign(if (a - t >= 0.5) t + 1 else t, d)
    if (failOnError) GraftSqlBridge.doubleToLongExact(r) else r.toLong
  }
}

object VectorExpressions {
  /** Fixed-point quantize of an array<double> column (see [[Quantize]]). */
  def quantize(v: Column, scale: Int): Column =
    GraftSqlBridge.column(Quantize(GraftSqlBridge.expression(v), scale))

  /** Column API for the fused kernels. */
  def intL2Sq(a: Column, b: Column): Column =
    GraftSqlBridge.column(IntVectorL2Sq(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
  def intDot(a: Column, b: Column): Column =
    GraftSqlBridge.column(IntVectorDot(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Element-wise sum aggregate (see [[VectorSumAggregate]]). */
  def vectorSum(v: Column): Column =
    GraftSqlBridge.column(
      VectorSumAggregate(GraftSqlBridge.expression(v)).toAggregateExpression())
}
