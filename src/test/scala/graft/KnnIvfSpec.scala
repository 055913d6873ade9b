package graft

import graft.operators.{IvfIndex, KnnJoin}
import graft.sources.Tables
import org.apache.spark.sql.functions._

class KnnIvfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val gallery = Seq(
    (0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f)), (3L, Array(5.0f, 5.0f)),
    (4L, Array(5.1f, 5.0f))
  ).toDF("vec_id", "embedding")

  test("knnL2: self is rank 1 at distance 0, neighbors ordered") {
    val q = gallery.filter($"vec_id" === 3)
    val r = KnnJoin.knnL2(gallery, q, "vec_id", "embedding", "vec_id", k = 3)
      .orderBy("rnk").as[(Long, Long, Long, Double)].collect()
    assert(r(0) === ((3L, 1L, 3L, 0.0)))
    assert(r(1)._3 === 4L)                       // nearest other vector
    assert(math.abs(r(1)._4 - 0.1) < 1e-9)
    assert(r(2)._3 === 1L)                       // (1,0) closer than (0,1)? tie → lower id
  }

  test("knnCosine ranks by angle not magnitude") {
    val q = Seq((99L, Array(10.0f, 10.0f))).toDF("vec_id", "embedding")
    val r = KnnJoin.knnCosine(gallery.filter($"vec_id" >= 1), q,
      "vec_id", "embedding", "vec_id", k = 2)
      .orderBy("rnk").as[(Long, Long, Long, Double)].collect()
    // (5,5) and (5.1,5) both ~45°; exact 45° vector (3) wins
    assert(r(0)._3 === 3L)
    assert(math.abs(r(0)._4 - 1.0) < 1e-6)
  }

  test("knnL2 plans one blocked scan over a broadcast query side, " +
    "no nested-loop join") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    val df = KnnJoin.knnL2(gallery, gallery, "vec_id", "embedding", "vec_id",
      k = 2)
    df.collect()
    val names = nodes(df.queryExecution.executedPlan).map(_.nodeName)
    assert(names.count(_ == "KnnScan") === 1, names)
    assert(names.contains("BroadcastExchange"), names)
    assert(!names.exists(_.contains("NestedLoopJoin")), names)
  }

  test("IVF assignment is the brute-force argmin") {
    val cents = Seq((0L, Array(0.0f, 0.0f)), (1L, Array(5.0f, 5.0f)))
      .toDF("cid", "embedding")
    val a = IvfIndex.assign(gallery, cents, "vec_id", "embedding", "cid")
      .select("id", "centroid_id").as[(Long, Long)].collect().toMap
    assert(a === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L))
  }

  test("IVF save/load roundtrip preserves rows and partition column") {
    val cents = Seq((0L, Array(0.0f, 0.0f)), (1L, Array(5.0f, 5.0f)))
      .toDF("cid", "embedding")
    val a = IvfIndex.assign(gallery, cents, "vec_id", "embedding", "cid")
    withTempDir("ivf") { path =>
      IvfIndex.save(a, path)
      val back = IvfIndex.load(spark, path)
      assert(back.count() === 5)
      assert(back.columns.toSet === Set("id", "vec", "centroid_id"))
      // partition pruning: reading one centroid touches one partition dir
      assert(back.filter($"centroid_id" === 1).count() === 2)
    }
  }

  test("IVF probe search matches exact KNN when nprobe covers the data") {
    val e = Tables.embeddings(spark, sf)
    val cents = e.filter($"vec_id" < 4)
      .select($"vec_id".as("cid"), $"embedding")
    val idx = IvfIndex.assign(e, cents, "vec_id", "embedding", "cid")
    val q = e.filter($"vec_id" === 100)
    val ivf = IvfIndex.search(idx, cents, q, "vec_id", "embedding", "cid",
      "vec_id", k = 3, nprobe = 4)                // all partitions probed
      .select("rnk", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = KnnJoin.knnL2(e, q, "vec_id", "embedding", "vec_id", k = 3)
      .select("rnk", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf === exact)
  }

  test("lloydStep recomputes centroids as element-wise means") {
    val cents = Seq((0L, Array(0.0f, 0.0f)), (1L, Array(5.0f, 5.0f)))
      .toDF("cid", "embedding")
    val a = IvfIndex.assign(gallery, cents, "vec_id", "embedding", "cid")
    val m = IvfIndex.lloydStep(a)
      .orderBy("centroid_id").as[(Long, Seq[Double])].collect()
    assert(m(0)._2.zip(Seq(1.0 / 3, 1.0 / 3)).forall {
      case (g, e) => math.abs(g - e) < 1e-6 })
    assert(m(1)._2.zip(Seq(5.05, 5.0)).forall {
      case (g, e) => math.abs(g - e) < 1e-6 })
  }
}
