package graft

import graft.functions.VectorFunctions._
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("native kernels match the composed-builtin forms on real data") {
    val e = Tables.embeddings(spark, sf).limit(50)
      .select($"vec_id", quantize($"embedding").as("q"))
    val pairs = e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
    val diff = pairs.select(
      intL2Sq($"a.q", $"b.q").as("native_l2"),
      intL2SqHof($"a.q", $"b.q").as("hof_l2"),
      intDot($"a.q", $"b.q").as("native_dot"),
      intDotHof($"a.q", $"b.q").as("hof_dot"))
      .filter($"native_l2" =!= $"hof_l2" || $"native_dot" =!= $"hof_dot")
    assert(diff.count() === 0)
  }

  test("kernels evaluate correctly (interpreted + codegen)") {
    val df = Seq((Array(1L, 2L, 3L), Array(4L, 6L, 8L))).toDF("a", "b")
    val r = df.select(intL2Sq($"a", $"b"), intDot($"a", $"b"))
      .as[(Long, Long)].head()
    assert(r === ((9L + 16L + 25L, 4L + 12L + 24L)))
  }

  test("registered functions work from SQL") {
    val r = spark.sql(
      "SELECT graft_l2sq(array(0L, 3L), array(4L, 0L)) AS d, " +
      "graft_dot(array(2L, 3L), array(5L, 7L)) AS p")
      .collect().head
    assert(r.getLong(0) === 25L)
    assert(r.getLong(1) === 31L)
  }

  /** The IllegalArgumentException somewhere in `e`'s cause chain. */
  private def mismatch(e: Throwable): IllegalArgumentException =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: IllegalArgumentException => x }
      .getOrElse(fail(s"no IllegalArgumentException in the cause chain", e))

  test("graft_l2sq/graft_dot reject arrays of different lengths " +
    "(SQL, interpreted and codegen) instead of reading past the shorter") {
    for (fn <- Seq("graft_l2sq", "graft_dot")) {
      val e = mismatch(intercept[Exception](
        spark.sql(s"SELECT $fn(array(1L, 2L), array(1L))").collect()))
      assert(e.getMessage.contains(fn) && e.getMessage.contains("2") &&
        e.getMessage.contains("1"), e.getMessage)
    }
    // a parallelized (non-local) relation keeps the projection in
    // whole-stage codegen
    val df = spark.sparkContext.parallelize(Seq((Seq(1L, 2L, 3L), Seq(4L))))
      .toDF("a", "b")
    for (c <- Seq(intL2Sq($"a", $"b"), intDot($"b", $"a"))) {
      val e = mismatch(intercept[Exception](df.select(c).collect()))
      assert(e.getMessage.contains("3") && e.getMessage.contains("1"),
        e.getMessage)
    }
  }

  test("the blocked KNN scan rejects a gallery vector of another length") {
    val g = spark.sparkContext.parallelize(Seq((1L, Seq(1L, 2L, 3L))))
      .toDF("id", "v")
    val q = Seq((7L, Seq(1L, 2L))).toDF("id", "v")
    val e = mismatch(intercept[Exception](graft.operators.KnnJoin
      .knnL2Pre(g, q, "id", "v", "id", k = 1).collect()))
    assert(e.getMessage.contains("3") && e.getMessage.contains("2"),
      e.getMessage)
  }
}
