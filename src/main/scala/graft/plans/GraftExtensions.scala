package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BooleanType, IntegerType}

/** SparkSessionExtensions registration for graft's native expressions —
  * lets SQL users call the fused kernels directly:
  *
  * {{{
  * val spark = GraftSession.local() // installs these extensions
  * spark.sql("SELECT graft_l2sq(qa, qb) FROM pairs")
  * }}}
  *
  * Registered surface:
  *  - `graft_l2sq(a, b)` — exact integer squared L2 of two long arrays
  *  - `graft_dot(a, b)` — exact integer dot product
  *  - `graft_minhash(shingles, k)` — k-element MinHash signature
  *    (k a literal int)
  *  - `graft_topk(id, score, k, ascending)` — bounded top-k aggregate,
  *    array<struct<id,score>> in rank order (k, ascending literals)
  *  - `graft_vecsum(vec)` — element-wise sum aggregate of an
  *    array<bigint> (exact, the (n, Σ) centroid carrier) or array<double>
  *    column, one pass, no explode
  *  - `graft_simhash64(tokens)` — 64-bit SimHash fingerprint of a
  *    token array (the byte-level kernel the d3/d6 family runs)
  *  - `graft_gram(vec)` — upper-triangle Gram aggregate over a
  *    Long-vector column: the d·(d+1)/2 exact second moments as
  *    Decimal(38,0), row-major (the v34 kernel, one 128-bit buffer
  *    per partition)
  *  - `graft_pq_grid_sums(vec, codes, m, ksub, sub)` — PQ-training
  *    grid aggregate: per (subspace, code) cell the member count and
  *    subspace-slice sum (m/ksub/sub literal ints; the v78 Lloyd
  *    carrier)
  *
  * and one planner strategy, [[KnnScanStrategy]], which plans the
  * exact KNN scan ([[KnnScan]]) of `graft.operators.KnnJoin`.
  *
  * For an already-running session use `GraftExtensions.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => KnnScanStrategy)
  }
}

object GraftExtensions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a literal INT, got $other")
  }

  private def litBool(e: Expression, fn: String, arg: String): Boolean =
    e match {
      case Literal(v: Boolean, BooleanType) => v
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a literal BOOLEAN, got $other")
    }

  /** Clear arity error instead of an IndexOutOfBoundsException from
    * exprs(i) when SQL passes the wrong argument count. */
  private def arity(fn: String, sig: String, exprs: Seq[Expression],
                    n: Int): Unit =
    if (exprs.size != n) throw new IllegalArgumentException(
      s"$fn expects $n arguments $sig, got ${exprs.size}")

  val functions: Seq[FunctionDescription] = Seq(
    (new FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[IntVectorL2Sq].getName, "graft_l2sq"),
      (exprs: Seq[Expression]) => {
        arity("graft_l2sq", "(a, b)", exprs, 2)
        IntVectorL2Sq(exprs(0), exprs(1))
      }),
    (new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[IntVectorDot].getName, "graft_dot"),
      (exprs: Seq[Expression]) => {
        arity("graft_dot", "(a, b)", exprs, 2)
        IntVectorDot(exprs(0), exprs(1))
      }),
    (new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashSignatureExpr].getName,
        "graft_minhash"),
      (exprs: Seq[Expression]) => {
        arity("graft_minhash", "(shingles, k)", exprs, 2)
        MinhashSignatureExpr(exprs(0), litInt(exprs(1), "graft_minhash", "k"))
      }),
    (new FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKAggregate].getName, "graft_topk"),
      (exprs: Seq[Expression]) => {
        arity("graft_topk", "(id, score, k, ascending)", exprs, 4)
        TopKAggregate(exprs(0), exprs(1),
          litInt(exprs(2), "graft_topk", "k"),
          litBool(exprs(3), "graft_topk", "ascending"))
      }),
    (new FunctionIdentifier("graft_vecsum"),
      new ExpressionInfo(classOf[VectorSumAggregate].getName,
        "graft_vecsum"),
      (exprs: Seq[Expression]) => {
        arity("graft_vecsum", "(vec)", exprs, 1)
        VectorSumAggregate(exprs(0))
      }),
    (new FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[Simhash64Expr].getName,
        "graft_simhash64"),
      (exprs: Seq[Expression]) => {
        arity("graft_simhash64", "(tokens)", exprs, 1)
        Simhash64Expr(exprs(0))
      }),
    (new FunctionIdentifier("graft_gram"),
      new ExpressionInfo(classOf[GramAggregate].getName, "graft_gram"),
      (exprs: Seq[Expression]) => {
        arity("graft_gram", "(vec)", exprs, 1)
        GramAggregate(exprs(0))
      }),
    (new FunctionIdentifier("graft_pq_grid_sums"),
      new ExpressionInfo(classOf[PqGridSumAggregate].getName,
        "graft_pq_grid_sums"),
      (exprs: Seq[Expression]) => {
        arity("graft_pq_grid_sums", "(vec, codes, m, ksub, sub)",
          exprs, 5)
        PqGridSumAggregate(exprs(0), exprs(1),
          litInt(exprs(2), "graft_pq_grid_sums", "m"),
          litInt(exprs(3), "graft_pq_grid_sums", "ksub"),
          litInt(exprs(4), "graft_pq_grid_sums", "sub"))
      }))

  /** Register the graft functions into a live session's registry and
    * install the planner strategy (both idempotent). */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    KnnScanStrategy.install(spark)
  }
}
