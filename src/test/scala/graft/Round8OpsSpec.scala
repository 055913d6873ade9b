package graft

import graft.queries.Queries

/** Invariant specs for the round-8 batch: trained PQ codebooks (v78),
  * beam graph search + its recall row (v79/v81), and incremental graph
  * maintenance (v80). Exact value parity is covered by the DuckDB
  * oracle gate; these assert the semantic properties the oracle can't
  * name.
  */
class Round8OpsSpec extends SparkSpec {
  import spark.implicits._

  test("v78: k=5 rows per query, dense ascending ranks, non-decreasing " +
    "ADC distances, deterministic across two runs") {
    val out = Queries.v78TrainedPq(spark, sf).collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    val nQ = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" % 100 === 0).count()
    assert(byQ.size == nQ)
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq == (1L to 5L))
      val dists = sorted.map(_.getAs[Double]("dist")).toSeq
      assert(dists == dists.sorted)
      dists.foreach(d => assert(d >= 0.0))
    }
    // seed slices, Lloyd rounds, grid floor, encode, ADC are all
    // deterministic functions of the data — a second full run (fresh
    // collects and localCheckpoints included) must reproduce the
    // result bit-for-bit.
    def key(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("dist")))
      .sortBy(t => (t._1, t._2))
    assert(key(Queries.v78TrainedPq(spark, sf).collect())
      .sameElements(key(out)))
  }

  test("v78: the trained index is usable — recall@5 vs the exact scan " +
    "is in seeded v11's league (Lloyd minimizes RECONSTRUCTION error, " +
    "not recall; the check is relative, the v68 precedent — training " +
    "must not wreck what the seeded books achieve on the same data)") {
    val exact = Queries.v1KnnL2(spark, sf)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val hits = df.select($"query_id", $"neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      hits.count(exact.contains).toDouble / hits.length
    }
    val seeded = recall(Queries.v11PqAdc(spark, sf))
    val trained = recall(Queries.v78TrainedPq(spark, sf))
    assert(trained >= seeded * 0.7,
      s"trained-PQ recall@5 = $trained vs seeded v11 = $seeded")
  }

  test("v79: ef=4 frontier per query with dense ascending ranks and " +
    "non-decreasing distances; the beam's best endpoint is never " +
    "farther than v57's greedy endpoint at equal steps (greedy " +
    "candidates are a subset of beam candidates at every step)") {
    val beam = Queries.v79BeamSearch(spark, sf).collect()
    val byQ = beam.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.length <= 4)
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq ==
        (1L to sorted.length.toLong))
      val dists = sorted.map(_.getAs[Double]("dist")).toSeq
      assert(dists == dists.sorted)
    }
    val greedy = Queries.v57GraphSearch(spark, sf).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("dist"))
      .toMap
    assert(byQ.keySet == greedy.keySet)
    byQ.foreach { case (q, rows) =>
      val best = rows.map(_.getAs[Double]("dist")).min
      assert(best <= greedy(q),
        s"query $q: beam best $best > greedy ${greedy(q)}")
    }
  }

  test("v81: beam recall dominates greedy recall at equal steps, and " +
    "frontier_hits bounds in_top5") {
    val beam = Queries.v81BeamRecall(spark, sf).collect()
    val greedy = Queries.v61GraphRecall(spark, sf).collect()
    val beamHits = beam.map(_.getAs[Long]("in_top5")).sum
    val greedyHits = greedy.map(_.getAs[Long]("in_top5")).sum
    assert(beamHits >= greedyHits,
      s"beam in_top5 $beamHits < greedy $greedyHits")
    beam.foreach { r =>
      assert(r.getAs[Long]("frontier_hits") >= r.getAs[Long]("in_top5"))
      assert(r.getAs[Long]("frontier_hits") <= 4L)
    }
  }

  test("v80: merged ≡ rebuilt — the incremental upsert (stored base " +
    "edges + localized batch repair) equals v28's graph rebuilt on " +
    "the union corpus, row for row") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("dst_id"), r.getAs[Double]("dist")))
      .sortBy(t => (t._1, t._2))
    val merged = key(Queries.v80GraphUpsert(spark, sf))
    val rebuilt = key(Queries.v28KnnGraph(spark, sf))
    assert(merged.length == rebuilt.length)
    assert(merged.sameElements(rebuilt))
  }

  test("v80: the base edge store persists once under a fingerprinted " +
    "table name and the second call serves from it unchanged") {
    val first = Queries.v80GraphUpsert(spark, sf).collect()
    val fp = graft.sources.Store
      .fingerprint(s"$sf/embeddings.parquet")
    assert(fp != "absent" && fp.length == 8)
    val expected = "graft_knn_base_edges_" +
      sf.replaceAll("[^a-zA-Z0-9]", "_") + "_" + fp
    assert(spark.catalog.tableExists(expected))
    val again = Queries.v80GraphUpsert(spark, sf).collect()
    assert(again.length == first.length)
  }
}
