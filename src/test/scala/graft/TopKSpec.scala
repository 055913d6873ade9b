package graft

import graft.operators.TopK
import org.apache.spark.sql.functions._

class TopKSpec extends SparkSpec {
  import spark.implicits._

  private lazy val scored = Seq(
    // group 1: scores 5,4,3,2,1 for ids 10..14
    (1L, 10L, 5.0), (1L, 11L, 4.0), (1L, 12L, 3.0), (1L, 13L, 2.0), (1L, 14L, 1.0),
    // group 2: tie on score 1.0 → id order decides
    (2L, 21L, 1.0), (2L, 20L, 1.0), (2L, 22L, 7.0)
  ).toDF("g", "id", "s").repartition(4) // force partial merges

  test("ascending top-k keeps smallest, ranks in order") {
    val r = TopK.perGroup(scored, "g", "id", "s", k = 2, ascending = true)
      .orderBy("g", "rnk").as[(Long, Long, Long, Double)].collect()
    assert(r.toSeq === Seq(
      (1L, 1L, 14L, 1.0), (1L, 2L, 13L, 2.0),
      (2L, 1L, 20L, 1.0), (2L, 2L, 21L, 1.0)))
  }

  test("descending top-k keeps largest") {
    val r = TopK.perGroup(scored, "g", "id", "s", k = 1, ascending = false)
      .orderBy("g").as[(Long, Long, Long, Double)].collect()
    assert(r.toSeq === Seq((1L, 1L, 10L, 5.0), (2L, 1L, 22L, 7.0)))
  }

  test("k larger than group returns whole group") {
    val r = TopK.perGroup(scored.filter($"g" === 2), "g", "id", "s",
      k = 10, ascending = true)
    assert(r.count() === 3)
  }

  test("perGroupDistinct ≡ distinct() + perGroup on duplicated input") {
    // the beam-loop shape: candidates repeat (frontier ∪ neighbor
    // expansion) with a deterministic score per (group, id). The
    // in-buffer dedup must reproduce the pre-aggregation distinct
    // EXACTLY — duplicates must not eat top-k slots.
    val dup = scored.unionAll(scored).unionAll(scored.filter($"id" % 2 === 0))
      .repartition(4)
    for (asc <- Seq(true, false); k <- Seq(1, 2, 3, 10)) {
      val viaDistinct = TopK.perGroup(dup.distinct(), "g", "id", "s", k, asc)
        .orderBy("g", "rnk").as[(Long, Long, Long, Double)].collect().toSeq
      val viaBuffer = TopK.perGroupDistinct(dup, "g", "id", "s", k, asc)
        .orderBy("g", "rnk").as[(Long, Long, Long, Double)].collect().toSeq
      assert(viaBuffer === viaDistinct, s"asc=$asc k=$k")
    }
  }

  test("perGroupDistinct dedups at (score, id) level: same id with two" +
      " DIFFERENT scores keeps both (the documented contract)") {
    // ADVICE r13: pin the intended semantics — the in-buffer dedup
    // reproduces `.distinct()`, i.e. (group, id, score)-level dedup.
    // A caller whose score is NOT deterministic per (group, id) gets
    // the same id in two slots, exactly as distinct() would.
    val two = Seq((1L, 5L, 1.0), (1L, 5L, 2.0), (1L, 5L, 1.0))
      .toDF("g", "id", "s").repartition(3)
    val viaDistinct = TopK.perGroup(two.distinct(), "g", "id", "s",
      k = 3, ascending = true).orderBy("rnk")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val viaBuffer = TopK.perGroupDistinct(two, "g", "id", "s",
      k = 3, ascending = true).orderBy("rnk")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(viaBuffer === viaDistinct)
    assert(viaBuffer.size === 2) // id 5 occupies TWO slots
  }

  test("perGroupDistinct: one id with two different scores keeps a slot " +
      "per (score, id) in both directions; repeats across partitions " +
      "collapse") {
    // the dedup key is (score, id), not id: each distinct score of id 5
    // takes its own slot, and the copies of one (score, id) row spread
    // over several partitions still count once
    val rows = Seq((1L, 5L, 2.0), (1L, 5L, 1.0), (1L, 6L, 1.5),
      (1L, 5L, 2.0), (1L, 5L, 1.0)).toDF("g", "id", "s").repartition(4)
    for (asc <- Seq(true, false)) {
      val got = TopK.perGroupDistinct(rows, "g", "id", "s", k = 3, asc)
        .orderBy("rnk").select("id", "s").as[(Long, Double)].collect().toSeq
      val expected = Seq((5L, 1.0), (6L, 1.5), (5L, 2.0))
      assert(got === (if (asc) expected else expected.reverse), s"asc=$asc")
    }
  }

  test("perGroupDistinct handles NaN-score duplicates like distinct()") {
    // NaN scores map to +Inf keys inside the buffer; duplicated NaN
    // rows for the same id must still collapse to one entry.
    val nan = Seq((1L, 1L, Double.NaN), (1L, 1L, Double.NaN),
      (1L, 2L, 1.0), (1L, 2L, 1.0)).toDF("g", "id", "s").repartition(3)
    val viaDistinct = TopK.perGroup(nan.distinct(), "g", "id", "s",
      k = 3, ascending = true).orderBy("rnk")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val viaBuffer = TopK.perGroupDistinct(nan, "g", "id", "s",
      k = 3, ascending = true).orderBy("rnk")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(viaBuffer.map(r => (r._1, r._2, r._3)) ===
      viaDistinct.map(r => (r._1, r._2, r._3)))
    assert(viaBuffer.size === 2)
  }
}
