package graft

import graft.queries.Queries
import org.apache.spark.sql.Row

/** Invariant specs for the round-9 trained persist-once/serve-many
  * family: persisted trained PQ (v87), trained IVF (v90), trained
  * IVFPQ (v91) and the trained-PQ recall row (v89). Exact value parity
  * with DuckDB is the oracle gate's job; these prove the persisted
  * serving contract — bit-equality with the rebuild-shape gates, and
  * stability across repeated serves from the same store — plus the
  * loud-failure contract on sparse seed ids.
  */
class Round9OpsSpec extends SparkSpec {
  import spark.implicits._

  private def key(rows: Array[Row]): Seq[(Long, Long, Long, Double)] =
    rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("dist")))
      .sortBy(t => (t._1, t._2)).toSeq

  test("v87 ≡ v78 (persisted trained PQ is bit-transparent) and " +
    "serving twice from the store is stable") {
    val rebuilt = key(Queries.v78TrainedPq(spark, sf).collect())
    val served1 = key(Queries.v87TrainedPqPersisted(spark, sf).collect())
    val served2 = key(Queries.v87TrainedPqPersisted(spark, sf).collect())
    assert(served1 == rebuilt)
    assert(served2 == rebuilt)
  }

  test("v90 ≡ v65 (persisted trained IVF is bit-transparent) and " +
    "serving twice from the store is stable") {
    val rebuilt = key(Queries.v65TrainedIvfSearch(spark, sf).collect())
    val served1 = key(Queries.v90TrainedIvfPersisted(spark, sf).collect())
    val served2 = key(Queries.v90TrainedIvfPersisted(spark, sf).collect())
    assert(served1 == rebuilt)
    assert(served2 == rebuilt)
  }

  test("v91 ≡ v68 (persisted trained IVFPQ is bit-transparent) and " +
    "serving twice from the store is stable") {
    val rebuilt = key(Queries.v68TrainedIvfPq(spark, sf).collect())
    val served1 = key(Queries.v91TrainedIvfpqPersisted(spark, sf).collect())
    val served2 = key(Queries.v91TrainedIvfpqPersisted(spark, sf).collect())
    assert(served1 == rebuilt)
    assert(served2 == rebuilt)
  }

  test("v89: recall rows recompute exactly from the gated v78 and v1 " +
    "outputs (n_hit = |trained top-5 ∩ exact top-5|)") {
    val exact = Queries.v1KnnL2(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val approx = Queries.v78TrainedPq(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val rows = Queries.v89TrainedPqRecall(spark, sf).collect()
    assert(rows.length == exact.size)
    rows.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val expected = (exact(q) & approx(q)).size.toLong
      assert(r.getAs[Long]("n_hit") == expected)
      assert(math.abs(r.getAs[Double]("recall_at_5") - expected / 5.0)
        < 1e-12)
    }
  }

  test("v92/v93: trained recall rows recompute exactly from the gated " +
    "v65/v68 and v1 outputs") {
    val exact = Queries.v1KnnL2(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    def check(approxRows: Array[Row], recallRows: Array[Row]): Unit = {
      val approx = approxRows.groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      assert(recallRows.length == exact.size)
      recallRows.foreach { r =>
        val q = r.getAs[Long]("query_id")
        val expected = (exact(q) & approx(q)).size.toLong
        assert(r.getAs[Long]("n_hit") == expected)
        assert(math.abs(r.getAs[Double]("recall_at_5") - expected / 5.0)
          < 1e-12)
      }
    }
    check(Queries.v65TrainedIvfSearch(spark, sf).collect(),
      Queries.v92TrainedIvfRecall(spark, sf).collect())
    check(Queries.v68TrainedIvfPq(spark, sf).collect(),
      Queries.v93TrainedIvfpqRecall(spark, sf).collect())
  }

  test("v88: deterministic across runs; per-query best distance and " +
    "frontier recall at least match v79's flat-entry beam") {
    def byQ(rows: Array[Row], idc: String) = rows
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q ->
        (rs.map(_.getAs[Long](idc)).toSet,
          rs.map(_.getAs[Double]("dist")).min) }
    def nodeKey(rows: Array[Row]) = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("node_id"), r.getAs[Double]("dist")))
      .sortBy(t => (t._1, t._2)).toSeq
    val h1 = Queries.v88HnswEntry(spark, sf).collect()
    val h2 = Queries.v88HnswEntry(spark, sf).collect()
    assert(nodeKey(h1) == nodeKey(h2))
    val hnsw = byQ(h1, "node_id")
    val flat = byQ(Queries.v79BeamSearch(spark, sf).collect(), "node_id")
    val exact = Queries.v1KnnL2(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    assert(hnsw.keySet == flat.keySet)
    // AGGREGATE quality comparison only: unlike beam-vs-greedy (same
    // entry point, superset frontier), different entry points carry NO
    // per-query superset relation — a per-query dominance assertion
    // would be a fixture-specific accident, not an invariant. What the
    // hierarchical entry must deliver is that it doesn't degrade the
    // search IN AGGREGATE at equal beam steps: mean exact-top-5 hits
    // not worse, and the best-so-far distance not worse for a clear
    // majority of queries.
    val hits = hnsw.keySet.toSeq.map { q =>
      ((hnsw(q)._1 & exact(q)).size, (flat(q)._1 & exact(q)).size)
    }
    assert(hits.map(_._1).sum >= hits.map(_._2).sum,
      s"hierarchical aggregate recall ${hits.map(_._1).sum} below " +
        s"flat ${hits.map(_._2).sum}")
    val notWorse = hnsw.count { case (q, (_, best)) =>
      best <= flat(q)._2 + 1e-12
    }
    assert(notWorse * 2 >= hnsw.size,
      s"hierarchical best-distance worse than flat on " +
        s"${hnsw.size - notWorse}/${hnsw.size} queries")
  }

  test("GramAggregate: 128-bit cells match BigInteger sums on inputs " +
    "that overflow a signed Long accumulator") {
    // values in ±3e9: each PRODUCT stays under 2^63 (the aggregate's
    // input contract — quantized vectors are far smaller) but a few
    // same-sign products already wrap a Long accumulator, firing both
    // carry paths (mixed signs exercise the negative one).
    val rnd = new scala.util.Random(9)
    val rows = Seq.fill(40)(
      Seq.fill(4)(rnd.nextLong() % 3000000000L))
    val df = rows.map(Tuple1(_)).toDF("v")
    import org.apache.spark.sql.GraftSqlBridge
    val gram = GraftSqlBridge.column(
      graft.plans.GramAggregate(
        GraftSqlBridge.expression(org.apache.spark.sql.functions.col("v")))
        .toAggregateExpression())
    val out = df.repartition(7).agg(gram.as("g"))
      .collect()(0).getSeq[java.math.BigDecimal](0)
    val pairs = for { i <- 0 until 4; j <- i until 4 } yield (i, j)
    pairs.zipWithIndex.foreach { case ((i, j), c) =>
      val expected = rows.map(r =>
        java.math.BigInteger.valueOf(r(i))
          .multiply(java.math.BigInteger.valueOf(r(j))))
        .reduce(_ add _)
      assert(out(c).toBigInteger == expected,
        s"cell ($i,$j): ${out(c)} vs $expected")
      // prove the test actually crossed Long range somewhere
    }
    assert(pairs.exists { case (i, j) =>
      rows.map(r => BigInt(r(i)) * BigInt(r(j))).sum.abs > BigInt(Long.MaxValue)
    }, "test inputs failed to exceed Long range — weaken nothing, fix the data")
  }

  test("trained PQ seeding fails loudly when any vec_id in 0..15 is " +
    "missing (positional seeds must not silently degrade)") {
    withTempDir("graft_sparse_seed") { dir =>
      // vec_ids 0..20 WITHOUT 7: the seed collect finds 15 < ksub rows
      val rows = (0 to 20).filter(_ != 7).map { i =>
        (i.toLong, Seq.fill(64)(i.toDouble / 100.0), i.toLong % 3,
          s"c${i % 3}")
      }
      rows.toDF("vec_id", "embedding", "label", "category")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val ex = intercept[IllegalArgumentException] {
        Queries.v78TrainedPq(spark, dir).collect()
      }
      assert(ex.getMessage.contains("seed ids"))
    }
  }
}
