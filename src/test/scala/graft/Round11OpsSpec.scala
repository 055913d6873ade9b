package graft

import graft.operators.PqIndex
import graft.queries.Queries
import org.apache.spark.sql.functions._

/** Invariant specs for the round-11 keys. Exact value parity with
  * DuckDB is the oracle gate's job; these prove the claims the gates
  * rest on — the incremental ingest path reproduces the full rebuild
  * row-for-row with zero store-side exchange (v99), and the served
  * output is bit-identical to the full-store twin's (the transparency
  * argument made testable).
  */
class Round11OpsSpec extends SparkSpec {

  test("v99: merged code store (base + encoded-new) equals the full " +
    "rebuild row-for-row") {
    val (merged, book, gd) = Queries.upsertedPqCodes(spark, sf)
    val rebuilt = PqIndex.encode(gd, "id", "qemb", dim = 64, m = 8, book)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList))
      .sortBy(_._1).toList
    val m = rows(merged)
    val r = rows(rebuilt)
    assert(m.nonEmpty && m === r)
  }

  test("v99: only genuinely new ids pay the encode — the batch minus " +
    "the base split, none already stored") {
    val (merged, _, gd) = Queries.upsertedPqCodes(spark, sf)
    val all = gd.select("id").collect().map(_.getLong(0)).toSet
    val baseIds = all.filter(_ % 4 != 0)
    val mergedIds = merged.select("id").collect().map(_.getLong(0))
    // union is exact and duplicate-free: every id exactly once
    assert(mergedIds.length === all.size)
    assert(mergedIds.toSet === all)
    assert(baseIds.subsetOf(all))
  }

  /** The zero-store-side-exchange assertion shared by every code-store
    * upsert family (v27's contract): the bucketed side of the
    * merge-hinted anti-join must not re-shuffle. The arriving batch
    * side MAY shuffle to the store's bucketing — that is the contract.
    * The STORE side must read its bucketed layout straight into the
    * join: between the SortMergeJoin and its bucketed FileScan (the
    * join's LAST child, drawn without the left branch's ':' rail) no
    * Exchange may appear. AQE + broadcast are disabled so the
    * sort-merge path (and any exchange) is visible. */
  private def assertNoStoreSideExchange(
      mkFrame: => org.apache.spark.sql.DataFrame): Unit = {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val plan = mkFrame.queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toVector
      val smj = lines.indexWhere(_.contains("SortMergeJoin"))
      val scan = lines.indexWhere(_.contains("Bucketed: true"), smj)
      assert(smj >= 0 && scan > smj, plan)
      val storeSide = lines.slice(smj + 1, scan + 1)
        .filterNot(l => l.takeWhile(c => !c.isLetterOrDigit).contains(':'))
      assert(storeSide.nonEmpty && !storeSide.exists(_.contains("Exchange")),
        s"store-side exchange leaked into the anti-join plan:\n$plan")
    }
  }

  test("v99: the anti-join probes the bucketed store with zero " +
    "store-side exchange") {
    assertNoStoreSideExchange(Queries.upsertedPqCodes(spark, sf)._1)
  }

  test("v104/v105: the SQ8 and IVFPQ store anti-joins also probe " +
    "with zero store-side exchange") {
    assertNoStoreSideExchange(Queries.upsertedSqCodes(spark, sf))
    assertNoStoreSideExchange(Queries.upsertedIvfpqCodes(spark, sf)._1)
  }

  test("v104: merged SQ8 codes equal an independent full re-encode " +
    "and the served rows are bit-identical to v86's") {
    val merged = Queries.upsertedSqCodes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).sortBy(_._1)
      .toList
    // independent full rebuild: quantize + stats + encode driver-side
    // from the raw parquet (exact integer math, the v102 pattern)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getAs[Number]("vec_id").longValue(),
        r.getSeq[Float](1).map(x =>
          math.round(x.toDouble * 10000)).toArray))
    val mns = (0 until 64).map(i => vecs.map(_._2(i)).min).toArray
    val rngs = (0 until 64)
      .map(i => math.max(vecs.map(_._2(i)).max - mns(i), 1L)).toArray
    val want = vecs.map { case (id, v) =>
      (id, (0 until 64).map(i => ((v(i) - mns(i)) * 255L) / rngs(i))
        .toList)
    }.sortBy(_._1).toList
    assert(merged.nonEmpty && merged === want)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toList
    assert(rows(Queries.v104SqStoreUpsert(spark, sf)) ===
      rows(Queries.v86Sq8Persisted(spark, sf)))
  }

  test("v105: merged residual codes equal the full rebuild " +
    "row-for-row and the served rows are bit-identical to v68's") {
    val (merged, centsDf, book, g) = Queries.upsertedIvfpqCodes(spark, sf)
    val rebuilt = graft.operators.IvfPq.encodeResidual(g, centsDf,
      "id", "qemb", "cid", dim = 64, m = 8, book, scale = 1)
    def codeRows(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "codes", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList, r.getLong(2)))
      .sortBy(_._1).toList
    val m = codeRows(merged)
    assert(m.nonEmpty && m === codeRows(rebuilt))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toList
    assert(rows(Queries.v105IvfpqStoreUpsert(spark, sf)) ===
      rows(Queries.v68TrainedIvfPq(spark, sf)))
  }

  test("v100: recall recomputes from the gated v98/v15 frames and " +
    "the reported ratio is its own exact quotient") {
    val exact = Queries.v15FilteredKnn(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    val approx = Queries.v98FilteredTrainedIvf(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val want = exact.groupBy(_._1).map { case (q, rows) =>
      (q, rows.count(approx).toLong)
    }
    val rows = Queries.v100FilteredTrainedRecall(spark, sf).collect()
    val got = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("n_hit"))).toMap
    assert(got.nonEmpty && got === want)
    val kPerQuery = exact.groupBy(_._1).map { case (q, r) => (q, r.length) }
    rows.foreach { r =>
      val q = r.getAs[Long]("query_id")
      assert(r.getAs[Double]("recall_at_5") ===
        r.getAs[Long]("n_hit").toDouble / kPerQuery(q))
    }
  }

  test("v101: the SQ8 admission bound is complete — candidates are a " +
    "superset of the exact in-radius pairs — and actually prunes") {
    val cand = Queries.sq8RangeCandidates(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val exact = Queries.v24RangeSearch(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    assert(exact.nonEmpty)
    assert(exact.subsetOf(cand),
      s"lossy prefilter: ${(exact -- cand).take(5)} dropped")
    // fixture-level expectation, not an invariant: on this corpus the
    // prefilter must reject most of the Q·N cross space, else it buys
    // nothing (the bound is loose by construction, but not THAT loose)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = e.count()
    val qn = e.filter(org.apache.spark.sql.functions
      .col("vec_id") % 100 === 0).count()
    assert(cand.size < (n * qn) / 2,
      s"prefilter admitted ${cand.size} of ${n * qn} pairs")
  }

  test("v101: prefiltered result equals the exact v24 rows") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("dist")))
      .sortBy(t => (t._1, t._2)).toList
    val got = rows(Queries.v101RangePrefilter(spark, sf))
    val want = rows(Queries.v24RangeSearch(spark, sf))
    assert(got.nonEmpty && got === want)
  }

  test("v102: the trained OPQ assignment is a permutation (exact " +
    "isometry) matching an independent exact recomputation") {
    val perm = Queries.trainedOpqPerm(spark, sf)
    assert(perm.length === 64)
    assert(perm.sorted.toSeq === (0 until 64))
    // independent recomputation: quantize driver-side from the raw
    // parquet, exact BigInt variance numerators, same deal rule
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(x =>
        BigInt(math.round(x.toDouble * 10000))).toArray)
    val n = BigInt(vecs.length)
    val nums = (0 until 64).map { i =>
      val sx = vecs.map(_(i)).sum
      val sx2 = vecs.map(v => v(i) * v(i)).sum
      n * sx2 - sx * sx
    }
    val ranked = (0 until 64).sortBy(dim => (-nums(dim), dim))
    val want = new Array[Int](64)
    ranked.zipWithIndex.foreach { case (dim, k) =>
      want((k % 8) * 8 + k / 8) = dim
    }
    assert(perm.toSeq === want.toSeq)
  }

  test("v103: merged edges equal the full rebuild row-for-row on " +
    "BOTH hierarchy layers") {
    val (l0, l1) = Queries.upsertedHierEdges(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("src_id", "rnk", "dst_id", "d2").collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("dst_id"), r.getAs[Double]("d2")))
      .sortBy(t => (t._1, t._2)).toList
    val (r0, r1) = Queries.rebuiltHierEdges(spark, sf)
    assert(rows(l0).nonEmpty && rows(l0) === rows(r0))
    assert(rows(l1).nonEmpty && rows(l1) === rows(r1))
    // the coarse layer is the hash-sampled subset: strictly smaller
    assert(rows(l1).size < rows(l0).size)
  }

  test("v103: serving from the merged stores is bit-identical to " +
    "v88's full-store serve") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("node_id"), r.getAs[Double]("dist")))
      .sortBy(t => (t._1, t._2)).toList
    val got = rows(Queries.v103HierUpsert(spark, sf))
    val want = rows(Queries.v88HnswEntry(spark, sf))
    assert(got.nonEmpty && got === want)
  }

  test("v106: the maintained store (ingest + tombstones) serves " +
    "bit-identically to a clean rebuild on the alive corpus, and no " +
    "dead id survives") {
    import graft.operators.PqIndex
    val (_, book, gd) = Queries.upsertedPqCodes(spark, sf)
    val aliveOnly = PqIndex.encode(
      gd.filter(org.apache.spark.sql.functions.col("id") % 7 =!= 0),
      "id", "qemb", dim = 64, m = 8, book)
    val clean = PqIndex.searchAdc(aliveOnly,
        gd.filter(org.apache.spark.sql.functions.col("id") % 100 === 0),
        "id", "qemb", 64, 8, book, k = 5)
      .select(org.apache.spark.sql.functions.col("query_id"),
        org.apache.spark.sql.functions.col("rnk"),
        org.apache.spark.sql.functions.col("neighbor_id"),
        (org.apache.spark.sql.functions.col("dist") /
          org.apache.spark.sql.functions.lit(10000.0)).as("dist"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toList
    val got = rows(Queries.v106StoreMaintenance(spark, sf))
    assert(got.nonEmpty && got === rows(clean))
    assert(got.forall(_._3 % 7 != 0), "a tombstoned id was served")
  }

  test("v107: recall recomputes from the gated v106 frame and the " +
    "alive-only exact scan") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = graft.operators.KnnJoin.knnL2(
        e.filter(col("vec_id") % 7 =!= 0),
        e.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", "vec_id", k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    val approx = Queries.v106StoreMaintenance(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val want = exact.groupBy(_._1).map { case (q, rows) =>
      (q, rows.count(approx).toLong)
    }
    val got = Queries.v107MaintainedRecall(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("n_hit"))).toMap
    assert(got.nonEmpty && got === want)
  }

  test("v99: served rows are bit-identical to v87's full-store serve") {
    val got = Queries.v99CodeStoreUpsert(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toList
    val want = Queries.v87TrainedPqPersisted(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toList
    assert(got.nonEmpty && got === want)
  }
}
