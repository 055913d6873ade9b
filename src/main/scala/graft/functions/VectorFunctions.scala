package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column functions — no UDFs. The exact integer path
  * (`quantize`, `intL2Sq`, `intDot`) runs graft's native expressions
  * ([[graft.plans.VectorExpressions]]); the float path composes Spark's
  * `transform` / `zip_with` / `aggregate`, which are `CodegenFallback`
  * (an interpreted lambda per element): general-purpose, not hot.
  *
  * Spark-first re-expression of the reference's FAISS flat index math:
  * L2 distance (reference faiss_utils.py:4-9, IndexFlatL2) and cosine on
  * L2-normalized embeddings (reference src/model.py:58, F.normalize).
  *
  * Determinism note: the oracle-checked query surface quantizes vectors to
  * fixed-point Long (`quantize`), so distances are exact integer sums and
  * every derived double (sqrt / division of exact ints) is bit-identical
  * across engines regardless of summation order. The float-path functions
  * (`dot`, `l2Dist`, `cosine`) are the general-purpose API.
  */
object VectorFunctions {

  /** THE fixed-point scale of the oracle-checked vector surface. Every
    * quantized distance, dot product, and reported double divides by
    * this (or its square) — the DuckDB twins interpolate the SAME
    * constant ([[graft.queries.Oracles]]), so changing it here re-syncs
    * both engines instead of desynchronizing them at gate time. */
  val DefaultScale = 10000

  /** Cast a numeric array column to array<double> for f64 math. */
  def toDoubleArray(v: Column): Column = v.cast("array<double>")

  /** Seeded signed permutation — the exact-arithmetic OPQ-style
    * pre-rotation. A signed permutation matrix is orthogonal, so L2
    * geometry is preserved EXACTLY in integer space (no float rotation
    * error) while the PQ subspace split changes — the cheap end of the
    * OPQ family (full OPQ's learned dense rotation has no bit-portable
    * fixed-point form). `java.util.Random`'s LCG is spec-pinned, so
    * both engines can interpolate the same literal permutation.
    * Returns (perm, signs): rotated[i] = signs(i) * v(perm(i)). */
  def signedPerm(dim: Int, seed: Long): (Array[Int], Array[Int]) = {
    val rnd = new java.util.Random(seed)
    val perm = Array.tabulate(dim)(identity)
    var i = dim - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    val signs = Array.fill(dim)(if (rnd.nextBoolean()) 1 else -1)
    (perm, signs)
  }

  /** Apply a signed permutation to an array column (literal-folded —
    * one codegen'd projection, no shuffle, no UDF). */
  def applySignedPerm(v: Column, perm: Array[Int],
                      signs: Array[Int]): Column =
    array(perm.indices.map(i =>
      lit(signs(i)) * element_at(v, perm(i) + 1)): _*)

  /** Fixed-point quantization: round(x * scale) half-up per element, as
    * Long ([[graft.plans.Quantize]]); makes distance sums exact. */
  def quantize(v: Column, scale: Int = DefaultScale): Column =
    graft.plans.VectorExpressions.quantize(toDoubleArray(v), scale)

  /** Sequential left fold. */
  private def foldSum(v: Column, zero: Column): Column =
    aggregate(v, zero, (acc, x) => acc + x)

  // ---- float-path API (general purpose) ----
  def dot(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => x * y), lit(0.0))
  def normSq(a: Column): Column = dot(a, a)
  def norm(a: Column): Column = sqrt(normSq(a))
  def l2DistSq(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0))
  def l2Dist(a: Column, b: Column): Column = sqrt(l2DistSq(a, b))
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(normSq(a) * normSq(b))
  /** Unit-normalize (reference model.py:58). */
  def l2Normalize(a: Column): Column = {
    val n = norm(a)
    transform(a, x => x / n)
  }

  // ---- exact integer path (oracle-deterministic) ----
  // Fused native kernels (graft.plans.VectorExpressions) — one tight
  // codegen'd loop, no per-row intermediate arrays.
  /** Integer squared L2 distance between two quantized (Long) vectors. */
  def intL2Sq(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.intL2Sq(a, b)
  /** Integer dot product of quantized vectors. */
  def intDot(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.intDot(a, b)
  /** Integer squared norm. */
  def intNormSq(a: Column): Column = intDot(a, a)
  /** Real-scale distance from integer squared distance. */
  def distFromIntSq(d2: Column, scale: Int = DefaultScale): Column =
    sqrt(d2) / lit(scale.toDouble)
  /** Cosine from exact integer dot/norms: ip / sqrt(na * nb), computed
    * identically (same IEEE op sequence) by the DuckDB oracle. */
  def cosineFromInts(ip: Column, na: Column, nb: Column): Column =
    ip / sqrt(na.cast("double") * nb)
}
