package graft

import graft.functions.VectorFunctions.quantize
import graft.queries.Queries
import org.apache.spark.sql.functions._

/** Invariant specs for the round-12 keys. Exact value parity with
  * DuckDB is the oracle gate's job; these prove the claims the gates
  * rest on — the tombstone-aware walk never surfaces a dead node and
  * always terminates (v108), the bypass semantics match an
  * INDEPENDENT driver-side simulation of the walk (the v104
  * independent-re-encode precedent applied to graph serving), and the
  * recall rows recompute from their gated input frames (v113).
  */
class Round12OpsSpec extends SparkSpec {

  private def tombstoneIds: Set[Long] =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").cast("long")).collect()
      .map(_.getLong(0)).toSet

  test("v108: no dead node ever surfaces in the served frontier") {
    val dead = tombstoneIds
    val out = Queries.v108GraphTombstoneSearch(spark, sf)
      .select(col("query_id"), col("node_id")).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => !dead.contains(r.getLong(1))))
  }

  test("v108: the walk terminates with a full frontier for every " +
    "query (fixture-level: 4 ranked rows each)") {
    val out = Queries.v108GraphTombstoneSearch(spark, sf)
      .groupBy("query_id").agg(count(lit(1)).as("n")).collect()
    val nq = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 100 === 0).count()
    assert(out.length.toLong === nq)
    assert(out.forall(_.getLong(1) === 4L))
  }

  test("v108: the fixture's global min id is DEAD, so the alive-entry " +
    "and bypass paths are exercised from step 0 (fixture-level)") {
    val minId = spark.read.parquet(s"$sf/embeddings.parquet")
      .agg(min(col("vec_id").cast("long"))).collect()(0).getLong(0)
    assert(minId % 7 === 0L)
  }

  test("v108: an independent driver-side simulation of the " +
    "bypass walk reproduces the gated frame exactly") {
    // Graph, vectors, and delete set collected once (sf0.001 is small
    // by construction); the walk below shares NO code with the query.
    val edges = Queries.v28KnnGraph(spark, sf)
      .select(col("src_id"), col("dst_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).toList) }
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("id"),
        quantize(col("embedding")).as("qv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toMap
    val dead = tombstoneIds
    val entry = vecs.keySet.filterNot(dead).min
    def d2(a: Array[Long], b: Array[Long]): BigInt =
      a.zip(b).map { case (x, y) => BigInt(x - y) * BigInt(x - y) }.sum
    val queries = vecs.keySet.filter(_ % 100 == 0).toList.sorted
    val expected = queries.flatMap { qid =>
      val qv = vecs(qid)
      var frontier = Set(entry)
      var ranked: List[(Long, Long)] = Nil // (rnk, nid)
      for (_ <- 1 to 3) {
        val nbrs = frontier.flatMap(n => edges.getOrElse(n, Nil))
        val bypass = nbrs.filter(dead)
          .flatMap(n => edges.getOrElse(n, Nil))
        val cand = (frontier ++ nbrs ++ bypass).filterNot(dead)
        ranked = cand.toList
          .map(n => (d2(vecs(n), qv), n))
          .sortBy(identity).take(4).zipWithIndex
          .map { case ((_, n), i) => (i + 1L, n) }
        frontier = ranked.map(_._2).toSet
      }
      ranked.map { case (rnk, nid) => (qid, rnk, nid) }
    }.toSet
    val got = Queries.v108GraphTombstoneSearch(spark, sf)
      .select(col("query_id"), col("rnk"), col("node_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got === expected)
  }

  test("v109: the maintained SQ store serves no dead id, every query " +
    "(including DELETED query ids) gets a full top-5, and the serve " +
    "equals a clean alive-corpus re-encode under the stored params") {
    val dead = tombstoneIds
    val out = Queries.v109SqMaintenance(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    assert(out.forall(r => !dead.contains(r._3)), "a tombstoned id served")
    val perQuery = out.groupBy(_._1)
    assert(perQuery.values.forall(_.length === 5))
    // deleted vectors may still arrive as queries — serving answers them
    assert(perQuery.keySet.exists(dead.contains))
    // SQ encode is per-row under stored params, so the clean rebuild
    // on the alive corpus IS the alive filter of the merged store —
    // serve from it and compare bit-for-bit
    val merged = Queries.upsertedSqCodes(spark, sf)
    val clean = graft.operators.KnnJoin.knnL2Pre(
        merged.filter(col("gid") % 7 =!= 0),
        merged.filter(col("gid") % 100 === 0),
        "gid", "cv", "gid", k = 5, scale = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toList
    assert(out.sortBy(t => (t._1, t._2)).toList === clean)
  }

  test("v110: the maintained IVFPQ store serves bit-identically to a " +
    "clean re-encode of the alive corpus under the same persisted " +
    "artifacts, and no dead id survives") {
    import graft.operators.IvfPq
    val (_, centsDf, book, g) = Queries.upsertedIvfpqCodes(spark, sf)
    val aliveOnly = IvfPq.encodeResidual(g.filter(col("id") % 7 =!= 0),
      centsDf, "id", "qemb", "cid", dim = 64, m = 8, book, scale = 1)
    val clean = IvfPq.searchResidual(aliveOnly, centsDf,
        g.filter(col("id") % 100 === 0), "cid", "id", "qemb",
        dim = 64, m = 8, book, k = 5, nprobe = 2)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        (col("dist") / lit(10000.0)).as("dist"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toList
    val got = rows(Queries.v110IvfpqMaintenance(spark, sf))
    assert(got.nonEmpty && got === rows(clean))
    assert(got.forall(_._3 % 7 != 0), "a tombstoned id was served")
  }

  test("v114/v115: the maintenance recall rows recompute from their " +
    "gated serve frames and the alive-only exact scan") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = graft.operators.KnnJoin.knnL2(
        e.filter(col("vec_id") % 7 =!= 0),
        e.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", "vec_id", k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    def check(approxDf: org.apache.spark.sql.DataFrame,
              recallDf: org.apache.spark.sql.DataFrame): Unit = {
      val approx = approxDf.collect()
        .map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("neighbor_id"))).toSet
      val want = exact.groupBy(_._1).map { case (q, rs) =>
        (q, rs.count(approx).toLong)
      }
      val got = recallDf.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("n_hit")))
        .toMap
      assert(got.nonEmpty && got === want)
    }
    check(Queries.v109SqMaintenance(spark, sf),
      Queries.v114SqMaintainedRecall(spark, sf))
    check(Queries.v110IvfpqMaintenance(spark, sf),
      Queries.v115IvfpqMaintainedRecall(spark, sf))
  }

  test("v111: the warm-refresh (n, Σ) state derives from the PERSISTED " +
    "trained index — an independent recompute over the stored parquet " +
    "matches exactly (so the warm round cannot have restarted from " +
    "seeds: the store holds the round-4 state)") {
    val (_, cs5) = Queries.warmRetrainState(spark, sf) // ensures the store
    val safe = sf.replaceAll("[^a-zA-Z0-9]", "_")
    val fp = graft.sources.Store
      .fingerprint(s"$sf/embeddings.parquet")
    val stored = spark.read.parquet(s"/tmp/graft_tivfidx2_${safe}_$fp")
      .select(col("c").cast("long").as("c"), col("qv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList))
    val want = stored.groupBy(_._1).map { case (c, rows) =>
      (c, rows.length.toLong, rows.toList.map(_._2).transpose.map(_.sum))
    }.toList.sortBy(_._1)
    assert(cs5.nonEmpty && cs5.length === want.length)
    cs5.toList.zip(want).foreach { case ((l1, n1, s1), (l2, n2, s2)) =>
      assert(l1 === l2 && n1 === n2 && s1.toList === s2)
    }
  }

  test("v112: segment-merge serving is bit-identical to the " +
    "monolithic trained serve — twice in a row") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toList
    val mono = rows(Queries.v90TrainedIvfPersisted(spark, sf))
    val s1 = rows(Queries.v112TrainedSegmentServe(spark, sf))
    val s2 = rows(Queries.v112TrainedSegmentServe(spark, sf))
    assert(s1.nonEmpty && s1 === mono && s2 === mono)
  }

  test("v116: IVFPQ segment-merge serving is bit-identical to the " +
    "monolithic trained serve — twice in a row") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toList
    val mono = rows(Queries.v91TrainedIvfpqPersisted(spark, sf))
    val s1 = rows(Queries.v116IvfpqSegmentServe(spark, sf))
    val s2 = rows(Queries.v116IvfpqSegmentServe(spark, sf))
    assert(s1.nonEmpty && s1 === mono && s2 === mono)
  }

  test("v117: PQ segment-merge serving is bit-identical to the " +
    "monolithic trained serve — twice in a row") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toList
    val mono = rows(Queries.v87TrainedPqPersisted(spark, sf))
    val s1 = rows(Queries.v117PqSegmentServe(spark, sf))
    val s2 = rows(Queries.v117PqSegmentServe(spark, sf))
    assert(s1.nonEmpty && s1 === mono && s2 === mono)
  }

  test("v118: no dead node surfaces at either layer, and an " +
    "independent driver-side simulation of BOTH tombstone walks " +
    "(coarse descent + beam) reproduces the gated frame exactly") {
    val dead = tombstoneIds
    val (l0df, l1df) = Queries.rebuiltHierEdges(spark, sf)
    def adj(df: org.apache.spark.sql.DataFrame) = df
      .select(col("src_id"), col("dst_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).toList) }
    val l0 = adj(l0df); val l1 = adj(l1df)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("id"),
        quantize(col("embedding")).as("qv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toMap
    def d2(a: Array[Long], b: Array[Long]): BigInt =
      a.zip(b).map { case (x, y) => BigInt(x - y) * BigInt(x - y) }.sum
    // the portable-hash layer-1 membership (v9's split contract)
    def sampled(id: Long): Boolean =
      ((id % 2147483647L) * 2654435761L) % 2147483647L % 5 == 0
    val entry = vecs.keySet.filter(id => sampled(id) && !dead(id)).min
    val queries = vecs.keySet.filter(_ % 100 == 0).toList.sorted
    val expected = queries.flatMap { qid =>
      val qv = vecs(qid)
      // layer 1: width-1 descent with the one-hop bypass
      var cur = entry
      for (_ <- 1 to 3) {
        val nbrs = l1.getOrElse(cur, Nil).toSet
        val bypass = nbrs.filter(dead).flatMap(n => l1.getOrElse(n, Nil))
        val cand = (Set(cur) ++ nbrs ++ bypass).filterNot(dead)
        cur = cand.toList.map(n => (d2(vecs(n), qv), n)).min._2
      }
      // layer 0: the tombstone beam from the descent winner
      var frontier = Set(cur)
      var ranked: List[(Long, Long)] = Nil
      for (_ <- 1 to 3) {
        val nbrs = frontier.flatMap(n => l0.getOrElse(n, Nil))
        val bypass = nbrs.filter(dead)
          .flatMap(n => l0.getOrElse(n, Nil))
        val cand = (frontier ++ nbrs ++ bypass).filterNot(dead)
        ranked = cand.toList
          .map(n => (d2(vecs(n), qv), n))
          .sortBy(identity).take(4).zipWithIndex
          .map { case ((_, n), i) => (i + 1L, n) }
        frontier = ranked.map(_._2).toSet
      }
      ranked.map { case (rnk, nid) => (qid, rnk, nid) }
    }.toSet
    val got = Queries.v118HierTombstoneSearch(spark, sf)
      .select(col("query_id"), col("rnk"), col("node_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got === expected)
    assert(got.forall(r => !dead.contains(r._3)))
  }

  test("v119: the compacted edge list (dead rows dropped, affected " +
    "sources locally repaired) equals the graph REBUILT from the " +
    "alive corpus row-for-row, and no endpoint is dead") {
    val dead = tombstoneIds
    def edgeSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("src_id"), col("dst_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val compacted = edgeSet(Queries.compactedGraphEdges(spark, sf))
    val rebuilt = edgeSet(Queries.aliveRebuiltEdges(spark, sf))
    assert(compacted.nonEmpty && compacted === rebuilt)
    assert(compacted.forall { case (s1, d1) =>
      !dead.contains(s1) && !dead.contains(d1) })
  }

  test("v113: frontier_hits recomputes from the gated v108 frame and " +
    "an alive-only exact top-5") {
    val frontier = Queries.v108GraphTombstoneSearch(spark, sf)
      .select(col("query_id"), col("node_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dead = tombstoneIds
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("id"),
        quantize(col("embedding")).as("qv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toMap
    def d2(a: Array[Long], b: Array[Long]): BigInt =
      a.zip(b).map { case (x, y) => BigInt(x - y) * BigInt(x - y) }.sum
    val aliveIds = vecs.keySet.filterNot(dead)
    val exactTop5 = vecs.keySet.filter(_ % 100 == 0).map { qid =>
      val qv = vecs(qid)
      (qid, aliveIds.toList.map(n => (d2(vecs(n), qv), n))
        .sortBy(identity).take(5).map(_._2).toSet)
    }.toMap
    val out = Queries.v113GraphMaintainedRecall(spark, sf)
      .select(col("query_id"), col("frontier_hits")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val qid = r.getLong(0)
      val hits = frontier.filter(_._1 == qid).map(_._2)
        .count(exactTop5(qid).contains)
      assert(r.getLong(1) === hits.toLong, s"query $qid")
    }
  }
}
