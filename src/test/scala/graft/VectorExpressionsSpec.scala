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
}
