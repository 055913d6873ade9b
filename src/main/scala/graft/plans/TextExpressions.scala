package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature: for j in 0..k-1, the minimum md5 hex of
  * `"j:" + shingle` over the shingle set — bit-identical to the
  * composed `transform` + `array_min` form (the reference in
  * TextExpressionsSpec) and to the DuckDB oracle, but computed at the byte level:
  *
  *  - one reused MessageDigest per thread (no per-call allocation),
  *  - mins tracked as raw 16-byte digests with unsigned comparison
  *    (hex encoding is order-preserving per byte, so byte-order min ==
  *    hex-string min), hex-encoded only for the k winners,
  *  - zero intermediate hex strings for the k × |shingles| candidates.
  *
  * CodegenFallback is deliberate: the md5 work dwarfs the boxing cost,
  * and the fallback keeps the implementation auditable.
  */
case class MinhashSignatureExpr(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType)
  override def prettyName: String = "graft_minhash"

  @transient private lazy val localDigest =
    new ThreadLocal[MessageDigest] {
      override def initialValue(): MessageDigest =
        MessageDigest.getInstance("MD5")
    }

  private val hexChars = "0123456789abcdef".toCharArray

  private def toHex(b: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((b(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexChars(b(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Unsigned lexicographic byte compare (== hex-string compare). */
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val md = localDigest.get()
    val mins = new Array[Array[Byte]](k)
    val prefixes = Array.tabulate(k)(j => s"$j:".getBytes("UTF-8"))
    var s = 0
    while (s < n) {
      val sh = arr.getUTF8String(s)
      if (sh != null) {
        val shBytes = sh.getBytes
        var j = 0
        while (j < k) {
          md.reset()
          md.update(prefixes(j))
          md.update(shBytes)
          val d = md.digest()
          if (mins(j) == null || less(d, mins(j))) mins(j) = d
          j += 1
        }
      }
      s += 1
    }
    // empty shingle set → k null entries, matching
    // array_min(transform(empty, ...)) in the composed form
    new GenericArrayData(mins.map(m =>
      if (m == null) null else toHex(m)).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native 64-bit SimHash over a (distinct) token-array column —
  * bit-identical to the composed HOF form (the reference in
  * RandomizedEquivalenceSpec) and to the DuckDB oracle's
  * ascii-arithmetic CTEs: bit j of the fingerprint votes +1/−1 by
  * bit j (MSB-first) of the first 8 md5 bytes of the token; output is
  * the 64-char '0'/'1' string, '1' where votes > 0.
  *
  * Why native: the HOF form is an `aggregate` whose per-token lambda
  * is interpreted `Expression.eval` — fine solo, but after hundreds
  * of distinct queries in one JVM the recursive eval call sites go
  * megamorphic and the whole simhash family (d3/d6/d14/v22) measured
  * 3-12× slower mid-suite than solo at the data-bound point. This
  * kernel is one JIT-compiled method: one reused MessageDigest per
  * thread, votes in a primitive int[64], no intermediate hex strings.
  * CodegenFallback like MinhashSignatureExpr: the md5 dwarfs boxing.
  */
case class Simhash64Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_simhash64"

  @transient private lazy val localDigest =
    new ThreadLocal[MessageDigest] {
      override def initialValue(): MessageDigest =
        MessageDigest.getInstance("MD5")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val md = localDigest.get()
    val votes = new Array[Int](64)
    var s = 0
    while (s < n) {
      val t = arr.getUTF8String(s)
      if (t != null) {
        md.reset()
        md.update(t.getBytes)
        val d = md.digest()
        var j = 0
        while (j < 64) {
          votes(j) += (((d(j >>> 3) >> (7 - (j & 7))) & 1) << 1) - 1
          j += 1
        }
      }
      s += 1
    }
    val out = new Array[Byte](64)
    var j = 0
    while (j < 64) {
      out(j) = if (votes(j) > 0) '1'.toByte else '0'.toByte
      j += 1
    }
    UTF8String.fromBytes(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextExpressions {
  /** Column API: native minhash signature over a shingle-array column. */
  def minhashSignature(shingles: Column, k: Int): Column =
    GraftSqlBridge.column(
      MinhashSignatureExpr(GraftSqlBridge.expression(shingles), k))

  /** Column API: native 64-bit SimHash over a token-array column. */
  def simhash64(tokens: Column): Column =
    GraftSqlBridge.column(
      Simhash64Expr(GraftSqlBridge.expression(tokens)))
}
