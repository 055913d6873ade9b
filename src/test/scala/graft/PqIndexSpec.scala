package graft

import graft.operators.{IvfIndex, IvfPq, PqIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

class PqIndexSpec extends SparkSpec {
  import spark.implicits._

  // two obvious clusters per 2-dim subspace
  private lazy val vecs = Seq(
    (0L, Array(0.0f, 0.0f, 10.0f, 10.0f)),
    (1L, Array(0.1f, 0.0f, 10.0f, 10.1f)),
    (2L, Array(9.0f, 9.0f, 0.0f, 0.0f)),
    (3L, Array(9.1f, 9.0f, 0.1f, 0.0f)),
    (4L, Array(0.0f, 0.1f, 0.0f, 0.1f))
  ).toDF("vec_id", "embedding")

  private lazy val book =
    PqIndex.train(spark, vecs, "vec_id", "embedding",
      dim = 4, m = 2, ksub = 2, iters = 3)

  test("train yields one codebook per subspace with ksub centroids") {
    assert(book.map(_.sub).toSet === Set(0, 1))
    assert(book.count(_.sub == 0) === 2)
    assert(book.forall(_.centroid.length == 2))
  }

  test("encode groups same-cluster vectors onto the same codes") {
    val codes = PqIndex.encode(vecs, "vec_id", "embedding", 4, 2, book)
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes.values.forall(_.length == 2))
    assert(codes(0L) === codes(1L))              // same subspace clusters
    assert(codes(2L) === codes(3L))
    assert(codes(0L) !== codes(2L))
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

  // 0 and 1 share their codes, and so do 2 and 3: ADC ties
  private lazy val codes =
    PqIndex.encode(vecs, "vec_id", "embedding", 4, 2, book)

  test("IVFPQ with full probing equals plain PQ ADC ranking") {
    val cents = Seq((0L, Array(0.0f, 0.0f, 5.0f, 5.0f)),
      (1L, Array(9.0f, 9.0f, 0.0f, 0.0f))).toDF("cid", "embedding")
    val indexed = codes.join(
      IvfIndex.assign(vecs, cents, "vec_id", "embedding", "cid")
        .select(col("id"), col("centroid_id")), Seq("id"))
    underEveryConf {
      val ivfpq = IvfPq.search(indexed, cents, vecs, "cid", "vec_id",
        "embedding", 4, 2, book, k = 3, nprobe = 2)
      val flat = PqIndex.searchAdc(codes, vecs, "vec_id", "embedding", 4, 2,
        book, k = 3)
      assert(rows(ivfpq) === rows(flat))
    }
  }

  test("residual IVFPQ, origin centroids, full probing equals plain PQ ADC") {
    // residual = v − 0 = v, so the residual codes, tables and ranks are
    // the plain ones, dist included
    val cents = Seq((0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("cid", "embedding")
    val rcodes = IvfPq.encodeResidual(vecs, cents, "vec_id", "embedding",
      "cid", 4, 2, book)
    underEveryConf {
      val residual = IvfPq.searchResidual(rcodes, cents, vecs, "cid",
        "vec_id", "embedding", 4, 2, book, k = 4, nprobe = 2)
      val flat = PqIndex.searchAdc(rcodes, vecs, "vec_id", "embedding", 4,
        2, book, k = 4)
      assert(rows(residual) === rows(flat))
      assert(rows(residual).size === 5 * 4)
    }
  }

  test("IVFPQ with nprobe=1 prunes to the probed partition only") {
    val codes = PqIndex.encode(vecs, "vec_id", "embedding", 4, 2, book)
    val cents = Seq((0L, Array(0.0f, 0.0f, 10.0f, 10.0f)),
      (1L, Array(9.0f, 9.0f, 0.0f, 0.0f))).toDF("cid", "embedding")
    val indexed = codes.join(
      IvfIndex.assign(vecs, cents, "vec_id", "embedding", "cid")
        .select(col("id"), col("centroid_id")), Seq("id"))
    val q = vecs.filter($"vec_id" === 1)
    val hits = IvfPq.search(indexed, cents, q, "cid", "vec_id",
      "embedding", 4, 2, book, k = 5, nprobe = 1)
      .select("neighbor_id").as[Long].collect().toSet
    // query 1 probes centroid 0's partition: vectors 0, 1 (and 4 —
    // nearer to centroid 0 than 1); cluster {2,3} is never scored
    assert(!hits.contains(2L) && !hits.contains(3L))
    assert(hits.contains(0L) && hits.contains(1L))
  }

  test("residual IVFPQ with exact-capacity codebooks reproduces exact KNN") {
    import graft.operators.KnnJoin
    // 6 distinct vectors, two coarse clusters; residual codebooks with
    // ksub = n represent every residual exactly, so ADC distance equals
    // exact distance and full probing must reproduce the exact ranking.
    val pts = Seq(
      (0L, Array(0.0f, 1.0f, 10.0f, 11.0f)),
      (1L, Array(1.0f, 2.0f, 12.0f, 10.0f)),
      (2L, Array(2.0f, 0.0f, 11.0f, 13.0f)),
      (3L, Array(9.0f, 8.0f, 1.0f, 2.0f)),
      (4L, Array(8.0f, 7.0f, 2.0f, 0.0f)),
      (5L, Array(7.0f, 9.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0f, 1.0f, 11.0f, 11.0f)),
      (1L, Array(8.0f, 8.0f, 1.0f, 1.0f))).toDF("cid", "embedding")
    val resid = IvfPq.residuals(pts, cents, "vec_id", "embedding", "cid")
    val rbook = PqIndex.train(spark, resid, "id", "rvec",
      dim = 4, m = 2, ksub = 6, iters = 3)
    val codes = IvfPq.encodeResidual(pts, cents, "vec_id", "embedding",
      "cid", 4, 2, rbook)
    val q = pts.filter($"vec_id" === 0)
    val got = IvfPq.searchResidual(codes, cents, q, "cid", "vec_id",
      "embedding", 4, 2, rbook, k = 4, nprobe = 2)
      .select("rnk", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = KnnJoin.knnL2(pts, q, "vec_id", "embedding", "vec_id", k = 4)
      .select("rnk", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got === exact)
  }

  test("ADC search finds the true nearest group first") {
    val q = vecs.filter($"vec_id" === 1)
    val r = PqIndex.searchAdc(codes, q, "vec_id", "embedding", 4, 2, book, k = 3)
      .orderBy("rnk").as[(Long, Long, Long, Double)].collect()
    // rank 1 and 2 are the {0,1} cluster (identical codes → tie by id)
    assert(Seq(r(0)._3, r(1)._3).sorted === Seq(0L, 1L))
    assert(r(2)._3 === 4L)                       // next-closest codes
  }

  test("ADC search enforces the batch-query broadcast contract") {
    // budget / (m * (maxCid+1) * 8 bytes) queries fit; one past it must
    // fail BEFORE any collect, with the batching instruction
    val perQ = 2L * (book.map(_.cid).max + 1) * 8
    val maxQ = PqIndex.MaxAdcTableBytes / perQ
    val hugeQ = spark.range(maxQ + 1)
      .select($"id".as("vec_id"),
        array(lit(0.0f), lit(0.0f), lit(0.0f), lit(0.0f)).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      PqIndex.searchAdc(codes, hugeQ, "vec_id", "embedding", 4, 2, book, 3)
    }
    assert(e.getMessage.contains("batches"))
  }

  test("posTable rejects empty subspaces and unbounded cid ranges") {
    val cents = Seq((0L, Array(0.0f, 0.0f, 5.0f, 5.0f)),
      (1L, Array(9.0f, 9.0f, 0.0f, 0.0f))).toDF("cid", "embedding")
    val indexed = codes.join(
      IvfIndex.assign(vecs, cents, "vec_id", "embedding", "cid")
        .select(col("id"), col("centroid_id")), Seq("id"))
    val half = book.filter(_.sub == 0)           // subspace 1 empty
    val searches: Seq[(String, Seq[PqIndex.Codebook] => DataFrame)] = Seq(
      "searchAdc" -> (b => PqIndex.searchAdc(codes, vecs.limit(1),
        "vec_id", "embedding", 4, 2, b, 3)),
      "search" -> (b => IvfPq.search(indexed, cents, vecs.limit(1), "cid",
        "vec_id", "embedding", 4, 2, b, k = 3, nprobe = 2)),
      "searchResidual" -> (b => IvfPq.searchResidual(indexed, cents,
        vecs.limit(1), "cid", "vec_id", "embedding", 4, 2, b, k = 3,
        nprobe = 2)))
    searches.foreach { case (name, search) =>
      val e = intercept[IllegalArgumentException](search(half))
      assert(e.getMessage.contains(s"$name: codebook holds no centroids " +
        "for subspace 1 of 2"), e.getMessage)
    }
    val sparse = book.map(cb =>
      if (cb.sub == 1 && cb.cid == 0) cb.copy(cid = 100000) else cb)
    assert(intercept[IllegalArgumentException] {
      PqIndex.searchAdc(codes, vecs.limit(1), "vec_id", "embedding", 4, 2,
        sparse, 3)
    }.getMessage.contains("cid"))
  }

  // Query rows with a NULL vector or a NULL id are skipped, as the exact
  // scan skips them: the result is the one of the well-formed rows alone.
  private lazy val nullQueries = Seq(
    (Option(1L), Option(Array(0.1f, 0.0f, 10.0f, 10.1f))),
    (Option(7L), Option.empty[Array[Float]]),
    (Option.empty[Long], Option(Array(9.0f, 9.0f, 0.0f, 0.0f)))
  ).toDF("vec_id", "embedding")
  private lazy val wellFormed = nullQueries.filter($"vec_id" === 1)

  test("searchAdc skips query rows with a NULL vector or id") {
    assert(rows(PqIndex.searchAdc(codes, nullQueries, "vec_id",
      "embedding", 4, 2, book, 3)) === rows(PqIndex.searchAdc(codes,
      wellFormed, "vec_id", "embedding", 4, 2, book, 3)))
  }

  test("IVFPQ search skips query rows with a NULL vector or id") {
    val cents = Seq((0L, Array(0.0f, 0.0f, 5.0f, 5.0f)),
      (1L, Array(9.0f, 9.0f, 0.0f, 0.0f))).toDF("cid", "embedding")
    val indexed = codes.join(
      IvfIndex.assign(vecs, cents, "vec_id", "embedding", "cid")
        .select(col("id"), col("centroid_id")), Seq("id"))
    def run(q: DataFrame) = rows(IvfPq.search(indexed, cents, q, "cid",
      "vec_id", "embedding", 4, 2, book, k = 3, nprobe = 2))
    val got = run(nullQueries)
    assert(got === run(wellFormed))
    assert(got.size === 3)
  }

  test("residual IVFPQ search skips query rows with a NULL vector or id") {
    val cents = Seq((0L, Array(0.0f, 0.0f, 5.0f, 5.0f)),
      (1L, Array(9.0f, 9.0f, 0.0f, 0.0f))).toDF("cid", "embedding")
    val rcodes = IvfPq.encodeResidual(vecs, cents, "vec_id", "embedding",
      "cid", 4, 2, book)
    def run(q: DataFrame) = rows(IvfPq.searchResidual(rcodes, cents, q,
      "cid", "vec_id", "embedding", 4, 2, book, k = 3, nprobe = 2))
    val got = run(nullQueries)
    assert(got === run(wellFormed))
    assert(got.size === 3)
  }
}
