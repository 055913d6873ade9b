package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expressions for the fixed-point vector kernels — the
  * hot inner loop of every KNN/IVF/near-dup query. The composed
  * `zip_with` + `aggregate` form allocates an intermediate array per row
  * pair and evaluates lambda closures per element; these fused kernels
  * emit one tight Java loop (`doGenCode`) with zero allocation, which is
  * what you want when the gallery side is 100 TB streaming past a
  * broadcast query set.
  *
  * Semantics are IDENTICAL to the composed form (exact Long arithmetic,
  * see graft.functions.VectorFunctions), so oracle results are unchanged.
  * Both vectors must be non-null array<long> with no null elements
  * (guaranteed by `VectorFunctions.quantize`). Arrays of different
  * lengths throw an `IllegalArgumentException`: `UnsafeArrayData`'s
  * bounds check is a JVM assert, off in production, so reading on past
  * the shorter array would return a number from adjacent memory.
  */
abstract class IntVectorKernel extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == ArrayType(LongType, false) ||
        left.dataType == ArrayType(LongType, true)) {
      if (right.dataType == ArrayType(LongType, false) ||
          right.dataType == ArrayType(LongType, true))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"right side must be array<bigint>, got ${right.dataType}")
    } else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"left side must be array<bigint>, got ${left.dataType}")
  }

  /** Element count of `a`, after checking `b` has as many. */
  protected def length(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (b.numElements() != n) throw new IllegalArgumentException(
      s"$prettyName: array lengths differ: left has $n elements, right has " +
        b.numElements())
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
     """.stripMargin
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

object VectorExpressions {
  /** Column API for the fused kernels. */
  def intL2Sq(a: Column, b: Column): Column =
    GraftSqlBridge.column(IntVectorL2Sq(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
  def intDot(a: Column, b: Column): Column =
    GraftSqlBridge.column(IntVectorDot(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
