package graft

import graft.functions.VectorFunctions.intL2Sq
import graft.operators.{GraphIndex, TopK}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The one graph walk against the hand-copied loops it replaced, kept
  * here as the references: the groupBy/min(struct) greedy descent (with
  * and without the tombstone bypass), the `.distinct()` + perGroup beam
  * and the tombstone beam with its distincts. Every case runs under
  * several shuffle-partition counts and with AQE off. */
class GraphIndexSpec extends SparkSpec {
  import spark.implicits._

  // ---- reference forms ----

  private def nbrsRef(from: DataFrame, edges: DataFrame): DataFrame =
    broadcast(from).join(edges, col("nid") === col("src_id"))
      .select(col("query_id"), col("dst_id").as("nid"))

  private def scoreRef(cand: DataFrame, q: DataFrame,
                       vecs: DataFrame): DataFrame =
    cand.join(vecs.select(col("id").as("nid"), col("qv").as("nv")), "nid")
      .join(q, "query_id")
      .select(col("query_id"), col("nid"),
        intL2Sq(col("nv"), col("query_v")).cast("double").as("d2"))

  /** The greedy descent: keep the (d2, nid)-min of {current} ∪
    * neighbours (∪ the bypass through dead neighbours). */
  private def greedyRef(frontier0: DataFrame, q: DataFrame,
                        vecs: DataFrame, edges: DataFrame,
                        tombs: Option[DataFrame] = None): DataFrame = {
    var cur = frontier0
    for (_ <- 1 to 3) {
      val nbrs = nbrsRef(cur, edges)
      val cand = tombs.fold(cur.unionAll(nbrs)) { t =>
        val deadN = t.join(broadcast(nbrs), col("dead_id") === col("nid"))
          .select(col("query_id"), col("nid"))
        cur.unionAll(nbrs).unionAll(nbrsRef(deadN, edges))
      }
      cur = scoreRef(cand, q, vecs)
        .groupBy("query_id")
        .agg(min(struct(col("d2"), col("nid"))).as("m"))
        .select(col("query_id"), col("m.nid").as("nid"))
        .localCheckpoint(false)
    }
    cur
  }

  /** The streaming beam: a distinct candidate set, then perGroup. */
  private def beamRef(frontier0: DataFrame, q: DataFrame, vecs: DataFrame,
                      edges: DataFrame, ef: Int): DataFrame = {
    var frontier = frontier0
    var ranked: DataFrame = null
    for (_ <- 1 to 3) {
      val cand = frontier.unionAll(nbrsRef(frontier, edges)).distinct()
      ranked = TopK.perGroup(scoreRef(cand, q, vecs), "query_id", "nid",
        "d2", ef, ascending = true).localCheckpoint(false)
      frontier = ranked.select(col("query_id"), col("nid"))
    }
    ranked
  }

  /** The tombstone beam with its neighbour and candidate distincts. */
  private def tombBeamRef(frontier0: DataFrame, q: DataFrame,
                          alive: DataFrame, edges: DataFrame,
                          tombs: DataFrame, ef: Int): DataFrame = {
    var frontier = frontier0
    var ranked: DataFrame = null
    for (_ <- 1 to 3) {
      val nbrs = nbrsRef(frontier, edges).distinct()
      val deadN = tombs.join(broadcast(nbrs), col("dead_id") === col("nid"))
        .select(col("query_id"), col("nid"))
      val cand = frontier.unionAll(nbrs).unionAll(nbrsRef(deadN, edges))
        .distinct()
      ranked = TopK.perGroup(scoreRef(cand, q, alive), "query_id", "nid",
        "d2", ef, ascending = true).localCheckpoint(false)
      frontier = ranked.select(col("query_id"), col("nid"))
    }
    ranked
  }

  // ---- fixtures ----

  /** A graph: vectors (id, qv) — a None vector is NULL — edges
    * (src_id, dst_id), queries (query_id, query_v), the delete set
    * (dead_id) and the entry node. */
  private case class Graph(vecs: Seq[(Long, Option[Seq[Long]])],
                           edges: Seq[(Long, Long)],
                           queries: Seq[(Long, Seq[Long])],
                           dead: Seq[Long], entry: Long) {
    def v: DataFrame = vecs.toDF("id", "qv")
    def e: DataFrame = edges.toDF("src_id", "dst_id")
    def q: DataFrame = queries.toDF("query_id", "query_v")
    def t: DataFrame = dead.toDF("dead_id")
    def alive: DataFrame = vecs.filterNot(r => dead.contains(r._1))
      .toDF("id", "qv")
    def start(q: DataFrame, at: Long = entry): DataFrame =
      q.select(col("query_id"), lit(at).as("nid"))
  }

  /** 0 is the entry; 1 and 2 share a vector (ties); 3 and 4 are dead,
    * and 3's bypass leads to 4 (dead) and 5; 6 has no out-edges. */
  private val fixture = Graph(
    vecs = Seq(0L -> Seq(0L, 0L), 1L -> Seq(1L, 0L), 2L -> Seq(1L, 0L),
      3L -> Seq(2L, 0L), 4L -> Seq(3L, 0L), 5L -> Seq(4L, 0L),
      6L -> Seq(5L, 0L)).map { case (i, v) => (i, Option(v)) },
    edges = Seq(0L -> 1L, 0L -> 2L, 0L -> 3L, 1L -> 3L, 2L -> 6L,
      3L -> 4L, 3L -> 5L, 4L -> 6L, 5L -> 6L),
    queries = Seq(10L -> Seq(5L, 0L), 11L -> Seq(1L, 0L),
      12L -> Seq(0L, 0L), 13L -> Seq(3L, 1L)),
    dead = Seq(3L, 4L), entry = 0L)

  /** Small integer vectors (so duplicates and ties are common), out-
    * degree 0–3 (so some nodes have no out-edges) and about a third of
    * the nodes dead (so dead neighbours chain). */
  private def seeded(seed: Int): Graph = {
    val r = new scala.util.Random(seed)
    val n = 40
    val vecs = (0 until n).map(i =>
      (i.toLong, Option(Seq.fill(3)(r.nextInt(4).toLong))))
    val edges = (0 until n).flatMap { i =>
      Seq.fill(r.nextInt(4))(r.nextInt(n)).distinct.filter(_ != i)
        .map(j => (i.toLong, j.toLong))
    }
    val queries = (0 until 6).map(i =>
      (100L + i, Seq.fill(3)(r.nextInt(5).toLong)))
    val dead = (1 until n).filter(_ => r.nextInt(3) == 0).map(_.toLong)
    Graph(vecs, edges, queries, dead, entry = 0L)
  }

  private val confs = Seq(
    Seq("spark.sql.shuffle.partitions" -> "1"),
    Seq("spark.sql.shuffle.partitions" -> "4"),
    Seq("spark.sql.shuffle.partitions" -> "32"),
    Seq("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "false"))

  private def underEveryConf(body: => Unit): Unit =
    confs.foreach(c => withConf(c: _*)(body))

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  private def walkRows(g: Graph, q: DataFrame, ef: Int,
                       from: Long): Set[Row] =
    rows(GraphIndex.walk(g.start(q, from), q, g.v, g.e, ef))

  /** Every form agrees on `g` for the queries `q` from node `from`. */
  private def assertParity(g: Graph, q: DataFrame, from: Long,
                           efs: Seq[Int] = Seq(2, 4)): Unit = {
    val greedy = GraphIndex.walk(g.start(q, from), q, g.v, g.e, ef = 1)
    assert(rows(greedy.select("query_id", "nid")) ==
      rows(greedyRef(g.start(q, from), q, g.v, g.e)))
    assert(greedy.filter(col("rnk") =!= 1).isEmpty)
    val deadGreedy = GraphIndex.walk(g.start(q, from), q, g.alive, g.e,
      ef = 1, Some(g.t))
    assert(rows(deadGreedy.select("query_id", "nid")) ==
      rows(greedyRef(g.start(q, from), q, g.alive, g.e, Some(g.t))))
    efs.foreach { ef =>
      assert(walkRows(g, q, ef, from) ==
        rows(beamRef(g.start(q, from), q, g.v, g.e, ef)))
      assert(rows(GraphIndex.walk(g.start(q, from), q, g.alive, g.e, ef,
          Some(g.t))) ==
        rows(tombBeamRef(g.start(q, from), q, g.alive, g.e, g.t, ef)))
    }
  }

  test("ties from duplicate vectors break to the lowest id, as in " +
    "every reference form") {
    underEveryConf {
      val q = fixture.q.filter(col("query_id") === 11)
      // 1 and 2 both sit at d2 = 0 from query 11
      assert(walkRows(fixture, q, 1, fixture.entry).map(_.getLong(2)) ==
        Set(1L))
      assert(walkRows(fixture, q, 2, fixture.entry)
        .map(r => (r.getLong(1), r.getLong(2))) == Set((1L, 1L), (2L, 2L)))
      assertParity(fixture, q, fixture.entry)
    }
  }

  test("a frontier node with no out-edges keeps its place") {
    underEveryConf {
      val q = fixture.q
      // entering at 6 (no out-edges) leaves 6 the only candidate
      assert(walkRows(fixture, q, 4, from = 6L) ==
        rows(q.select(col("query_id"), lit(1L).as("rnk"), lit(6L).as("nid"),
          intL2Sq(lit(Array(5L, 0L)), col("query_v")).cast("double")
            .as("d2"))))
      assertParity(fixture, q, from = 6L)
      // from the entry, 6 reaches the frontier of query 10 before the
      // last step
      assertParity(fixture, q.filter(col("query_id") === 10),
        fixture.entry)
    }
  }

  test("a dead neighbour's bypass to another dead node surfaces " +
    "neither") {
    underEveryConf {
      val q = fixture.q
      val walked = GraphIndex.walk(fixture.start(q), q, fixture.alive,
        fixture.e, ef = 4, Some(fixture.t))
      val ids = rows(walked.select("nid")).map(_.getLong(0))
      assert(ids.nonEmpty && !ids.contains(3L) && !ids.contains(4L))
      // 5 is reached only through dead 3's bypass at step 1
      assert(rows(walked.filter(col("query_id") === 10).select("nid"))
        .map(_.getLong(0)).contains(5L))
      assertParity(fixture, q, fixture.entry)
    }
  }

  test("ef larger than the candidate set keeps every reachable " +
    "candidate") {
    underEveryConf {
      val q = fixture.q
      val walked = walkRows(fixture, q, 10, fixture.entry)
      // all seven nodes are reachable within three steps
      assert(walked.count(_.getLong(0) == 10L) == 7)
      assertParity(fixture, q, fixture.entry, efs = Seq(10))
    }
  }

  test("an empty query set walks to no rows") {
    underEveryConf {
      val q = fixture.q.filter(lit(false))
      assert(walkRows(fixture, q, 4, fixture.entry).isEmpty)
      assert(GraphIndex.layeredWalk(fixture.start(q), q,
        Seq((fixture.v, fixture.e), (fixture.v, fixture.e)), ef = 4)
        .isEmpty)
      assertParity(fixture, q, fixture.entry)
    }
  }

  test("seeded random graphs: the walk returns the reference rows") {
    underEveryConf {
      Seq(7, 42).foreach { seed =>
        val g = seeded(seed)
        assertParity(g, g.q, g.entry)
      }
    }
  }

  test("the greedy walk never chooses a node whose vector is NULL; " +
    "the min(struct) descent did") {
    // node 7 has a NULL vector and is a candidate at every step
    val g = Graph(
      vecs = Seq(0L -> Option(Seq(0L, 0L)), 1L -> Option(Seq(1L, 0L)),
        2L -> Option(Seq(2L, 0L)), 7L -> None),
      edges = Seq(0L -> 1L, 0L -> 7L, 1L -> 2L, 1L -> 7L, 2L -> 7L,
        7L -> 0L),
      queries = Seq(20L -> Seq(2L, 0L)), dead = Nil, entry = 0L)
    underEveryConf {
      val walked = GraphIndex.walk(g.start(g.q), g.q, g.v, g.e, ef = 1)
      assert(rows(walked.select("nid")) == Set(Row(2L)))
      Seq(2, 4).foreach(ef =>
        assert(!rows(GraphIndex.walk(g.start(g.q), g.q, g.v, g.e, ef)
          .select("nid")).contains(Row(7L))))
      // Spark orders a NULL struct field first, so min(struct) picked 7
      assert(rows(greedyRef(g.start(g.q), g.q, g.v, g.e).select("nid")) ==
        Set(Row(7L)))
    }
  }

  test("the layered walk is a greedy descent per upper layer, then " +
    "the beam") {
    val g = seeded(11)
    val upper = g.v.filter(col("id") % 2 === 0)
    val upperEdges = g.e.join(upper.select(col("id").as("src_id")),
        "src_id")
      .join(upper.select(col("id").as("dst_id")), "dst_id")
    underEveryConf {
      val seed = greedyRef(g.start(g.q), g.q, upper, upperEdges)
      assert(rows(GraphIndex.layeredWalk(g.start(g.q), g.q,
          Seq((upper, upperEdges), (g.v, g.e)), ef = 4)) ==
        rows(beamRef(seed, g.q, g.v, g.e, ef = 4)))
    }
  }
}
