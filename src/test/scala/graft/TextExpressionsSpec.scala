package graft

import graft.functions.TextFunctions._
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class TextExpressionsSpec extends SparkSpec {
  import spark.implicits._

  /** Composed-builtin form of [[minhashSignature]]: the reference the
    * native kernel must match. */
  private def minhashSignatureHof(shingleCol: Column, k: Int): Column =
    array((0 until k).map { j =>
      array_min(transform(shingleCol, s => md5(concat(lit(j.toString), lit(":"), s))))
    }: _*)

  test("native minhash matches the composed form on real documents") {
    val d = Tables.documents(spark, sf).limit(100)
      .select($"doc_id", shingles($"text", 3).as("sh"))
    val diff = d.select(
      minhashSignature($"sh", 12).as("native"),
      minhashSignatureHof($"sh", 12).as("hof"))
      .filter($"native" =!= $"hof")
    assert(diff.count() === 0)
  }

  test("native minhash handles empty and single-shingle inputs") {
    val d = Seq(
      (1L, Seq.empty[String]),
      (2L, Seq("a b c"))
    ).toDF("id", "sh")
    val r = d.select($"id",
      minhashSignature($"sh", 4).as("n"),
      minhashSignatureHof($"sh", 4).as("h"))
      .as[(Long, Seq[String], Seq[String])].collect()
      .map(x => x._1 -> ((x._2, x._3))).toMap
    assert(r(1L)._1 === Seq(null, null, null, null))
    assert(r(1L)._1 === r(1L)._2)
    assert(r(2L)._1.forall(s => s != null && s.length == 32))
    assert(r(2L)._1 === r(2L)._2)
  }
}
