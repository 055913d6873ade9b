package graft

import graft.functions.VectorFunctions.quantize
import graft.operators.KnnJoin
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The full KNN pipeline expressed in PURE SQL against the registered
  * graft functions — proves a SQL-only user gets the same plan pieces
  * (native distance kernel + bounded top-k aggregate) as the Column
  * API, with identical results. */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  test("pure-SQL KNN via graft_topk + graft_l2sq matches KnnJoin") {
    Tables.embeddings(spark, sf)
      .select($"vec_id".cast("long").as("id"),
        quantize($"embedding").as("qv"))
      .createOrReplaceTempView("emb_q")
    val sqlRes = spark.sql("""
      SELECT query_id, posexplode(hits) AS (pos, hit)
      FROM (SELECT q.id AS query_id,
                   graft_topk(g.id, CAST(graft_l2sq(g.qv, q.qv) AS DOUBLE),
                              5, true) AS hits
            FROM emb_q g CROSS JOIN (SELECT * FROM emb_q
                                     WHERE id % 100 = 0) q
            GROUP BY q.id)""")
      .select($"query_id", ($"pos" + 1).cast("long").as("rnk"),
        $"hit.id".as("neighbor_id"),
        (sqrt($"hit.score") / 10000.0).as("dist"))
      .as[(Long, Long, Long, Double)].collect().toSet
    val e = Tables.embeddings(spark, sf)
    val apiRes = KnnJoin.knnL2(e, e.filter($"vec_id" % 100 === 0),
        "vec_id", "embedding", "vec_id", k = 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(sqlRes === apiRes)
  }

  test("graft_vecsum from SQL matches the Column-API classSums sums") {
    Seq((0L, Seq(1L, 2L)), (0L, Seq(10L, 20L)), (1L, Seq(5L, 5L)))
      .toDF("lab", "qv").createOrReplaceTempView("vs_in")
    val got = spark.sql(
      "SELECT lab, graft_vecsum(qv) AS s FROM vs_in GROUP BY lab")
      .as[(Long, Seq[Long])].collect().toMap
    assert(got == Map(0L -> Seq(11L, 22L), 1L -> Seq(5L, 5L)))
  }

  test("graft_minhash from SQL matches the Column API kernel") {
    val r = spark.sql(
      "SELECT graft_minhash(array('a b c', 'b c d'), 4) AS sig").collect()
      .head.getSeq[String](0)
    val api = Seq(Seq("a b c", "b c d")).toDF("sh")
      .select(graft.plans.TextExpressions.minhashSignature($"sh", 4))
      .collect().head.getSeq[String](0)
    assert(r === api)
    assert(r.length === 4)
  }

  test("graft_topk from SQL keeps the bounded hash-aggregate plan " +
    "shape — partial (map-side) + final ObjectHashAggregate, never a " +
    "sort-based demotion") {
    Tables.embeddings(spark, sf)
      .select($"vec_id".cast("long").as("id"),
        quantize($"embedding").as("qv"))
      .createOrReplaceTempView("emb_q_shape")
    val df = spark.sql("""
      SELECT q.id AS query_id,
             graft_topk(g.id, CAST(graft_l2sq(g.qv, q.qv) AS DOUBLE),
                        5, true) AS hits
      FROM emb_q_shape g CROSS JOIN (SELECT * FROM emb_q_shape
                                     WHERE id % 100 = 0) q
      GROUP BY q.id""")
    val phys = df.queryExecution.executedPlan.toString
    // the TypedImperativeAggregate must ride ObjectHashAggregate in
    // BOTH modes — a SortAggregate here would mean the signature
    // primitive sorts the full candidate stream per group instead of
    // keeping the O(k) map-side heaps
    assert(!phys.contains("SortAggregate"),
      s"graft_topk demoted to a sort-based aggregate:\n$phys")
    val objAggs = "ObjectHashAggregate".r.findAllIn(phys).size
    assert(objAggs >= 2,
      s"expected partial+final ObjectHashAggregate, got $objAggs:\n$phys")
    assert(phys.contains("partial_graft_topk"),
      s"no map-side partial graft_topk in plan:\n$phys")
  }

  test("wrong SQL argument count yields a clear arity error") {
    val err = intercept[Exception] {
      spark.sql("SELECT graft_topk(id, CAST(id AS DOUBLE), 5) FROM range(3)")
        .collect()
    }
    assert(err.getMessage.contains("expects 4 arguments"))
  }

  test("graft_topk rejects non-literal k with a clear error") {
    val err = intercept[Exception] {
      spark.sql("SELECT graft_topk(id, CAST(id AS DOUBLE), CAST(id AS INT), true) " +
        "FROM range(3)").collect()
    }
    assert(err.getMessage.contains("literal"))
  }

  test("graft_simhash64 from SQL matches the Column API kernel") {
    val r = spark.sql(
      "SELECT graft_simhash64(array('alpha', 'beta', 'gamma')) AS f")
      .collect().head.get(0)
    val api = Seq(Seq("alpha", "beta", "gamma")).toDF("t")
      .select(graft.plans.TextExpressions.simhash64($"t"))
      .collect().head.get(0)
    assert(r === api)
  }

  test("graft_gram from SQL matches the hand-computed upper triangle") {
    Seq(Seq(1L, 2L), Seq(3L, 4L)).map(Tuple1(_)).toDF("v")
      .createOrReplaceTempView("gram_in")
    val got = spark.sql("SELECT graft_gram(v) AS g FROM gram_in")
      .collect().head.getSeq[java.math.BigDecimal](0)
      .map(_.longValueExact())
    // cells (0,0)=1+9, (0,1)=2+12, (1,1)=4+16
    assert(got == Seq(10L, 14L, 20L))
  }

  test("graft_pq_grid_sums from SQL carries (n, slice-sum) per cell") {
    // two vectors, m=2 subspaces of sub=2, ksub=2; codes route them
    Seq((Seq(1L, 2L, 3L, 4L), Seq(0L, 1L)),
        (Seq(5L, 6L, 7L, 8L), Seq(0L, 0L)))
      .toDF("v", "codes").createOrReplaceTempView("grid_in")
    val cells = spark.sql(
      "SELECT explode(graft_pq_grid_sums(v, codes, 2, 2, 2)) AS c " +
        "FROM grid_in")
      .select($"c.lab", $"c.n", $"c.svec")
      .as[(Long, Long, Seq[Long])].collect()
      .map { case (lab, n, s) => lab -> ((n, s)) }.toMap
    // lab 0 = (j=0, code=0): both rows -> n=2, sums (1+5, 2+6)
    assert(cells(0L) == ((2L, Seq(6L, 8L))))
    assert(cells(1L) == ((0L, Seq(0L, 0L))))
    // lab 2 = (j=1, code=0): second row's slice (7, 8)
    assert(cells(2L) == ((1L, Seq(7L, 8L))))
    // lab 3 = (j=1, code=1): first row's slice (3, 4)
    assert(cells(3L) == ((1L, Seq(3L, 4L))))
  }
}
