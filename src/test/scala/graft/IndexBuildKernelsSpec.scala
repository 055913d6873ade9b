package graft

import graft.functions.VectorFunctions._
import graft.operators.{IvfIndex, IvfPq, PqIndex}
import graft.plans.CentroidKernels
import graft.tools.ExplainAudit
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The native IVF/PQ build kernels against the literal-folded Catalyst
  * forms they replaced, kept here as the references: assignment, PQ
  * encode, residuals and the Lloyd training of both indexes. */
class IndexBuildKernelsSpec extends SparkSpec {
  import spark.implicits._

  // ---- reference forms ----

  private def assignRef(vectors: DataFrame, centroids: DataFrame,
                        idCol: String, vecCol: String, cidCol: String,
                        scale: Int = DefaultScale): DataFrame = {
    val cents = centroids
      .select(col(cidCol).cast("long"), quantize(col(vecCol), scale))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    val cands = cents.map { case (cid, cv) =>
      struct(intL2Sq(col("qv"), array(cv.map(lit): _*)).as("d2"),
        lit(cid).as("cid"))
    }
    vectors
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
        quantize(col(vecCol), scale).as("qv"))
      .withColumn("best", array_min(array(cands.toIndexedSeq: _*)))
      .select(col("id"), col("vec"),
        col("best.cid").as("centroid_id"), col("best.d2").as("d2"))
  }

  private def lloydStepRef(assigned: DataFrame): DataFrame =
    assigned
      .select(col("centroid_id"),
        posexplode(toDoubleArray(col("vec"))).as(Seq("pos", "x")))
      .groupBy("centroid_id", "pos")
      .agg(avg("x").as("m"))
      .groupBy("centroid_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("centroid_id"),
        transform(col("pm"), p => p.getField("m")).as("vec"))

  private def trainRef(spark: SparkSession, vectors: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       iters: Int): DataFrame = {
    val centSchema = StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField(vecCol, ArrayType(DoubleType), nullable = false)))
    def toDf(rows: Seq[(Long, Seq[Double])]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1),
        centSchema)
    var cents = toDf(
      vectors.orderBy(col(idCol)).limit(k)
        .select(toDoubleArray(col(vecCol))).collect()
        .zipWithIndex.map { case (r, i) => (i.toLong, r.getSeq[Double](0)) }
        .toSeq)
    for (_ <- 1 to iters) {
      val assigned = assignRef(vectors, cents, idCol, vecCol, "cid")
      cents = toDf(lloydStepRef(assigned)
        .select(col("centroid_id"), col("vec")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq)
    }
    cents
  }

  private def pqTrainRef(vecs: DataFrame, idCol: String, vecCol: String,
                         dim: Int, m: Int, ksub: Int,
                         iters: Int): Seq[PqIndex.Codebook] = {
    val sub = dim / m
    (0 until m).flatMap { j =>
      val slice_j = vecs.select(col(idCol),
        slice(toDoubleArray(col(vecCol)), j * sub + 1, sub).as("subvec"))
      trainRef(spark, slice_j, idCol, "subvec", ksub, iters).collect()
        .map(r => PqIndex.Codebook(j, r.getLong(0).toInt, r.getSeq[Double](1)))
    }
  }

  private def encodeSubRef(sliceCol: Column, j: Int,
                           book: Seq[PqIndex.Codebook]): Column = {
    val cands = book.filter(_.sub == j).sortBy(_.cid).map { cb =>
      val cent = array(cb.centroid.map(lit): _*)
      struct(l2DistSq(sliceCol, cent).as("d2"), lit(cb.cid).as("cid"))
    }
    array_min(array(cands: _*)).getField("cid")
  }

  private def encodeRef(vecs: DataFrame, idCol: String, vecCol: String,
                        dim: Int, m: Int,
                        book: Seq[PqIndex.Codebook]): DataFrame = {
    val sub = dim / m
    val v = toDoubleArray(col(vecCol))
    vecs.select(col(idCol).cast("long").as("id") +:
        (0 until m).map(j => slice(v, j * sub + 1, sub).as(s"_s$j")): _*)
      .select(col("id"),
        array((0 until m).map(j =>
          encodeSubRef(col(s"_s$j"), j, book)): _*).as("codes"))
  }

  private def residualsRef(vectors: DataFrame, centroids: DataFrame,
                           idCol: String, vecCol: String,
                           cidCol: String): DataFrame = {
    val cmap = map(centroids
      .select(col(cidCol).cast("long"), toDoubleArray(col(vecCol)))
      .collect().flatMap { r =>
        Seq(lit(r.getLong(0)), array(r.getSeq[Double](1).map(lit): _*))
      }.toIndexedSeq: _*)
    assignRef(vectors, centroids, idCol, vecCol, cidCol)
      .select(col("id"), col("centroid_id"),
        zip_with(toDoubleArray(col("vec")),
          element_at(cmap, col("centroid_id")), (x, c) => x - c).as("rvec"))
  }

  // ---- fixtures and helpers ----

  /** (vec_id, embedding) rows in a parallelized relation, so projections
    * are planned rather than folded into a local relation. */
  private def frame(rows: Seq[(Long, Seq[java.lang.Double])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (id, v) => Row(id, v) }, 4),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType, containsNull = true)))))

  private def boxed(v: Seq[Double]): Seq[java.lang.Double] =
    v.map(java.lang.Double.valueOf)

  /** n seeded Gaussian vectors of `dim` elements around `clusters`
    * centres, with per-vector magnitudes over 1e-3 .. 1e2. */
  private def gaussians(seed: Int, n: Int, dim: Int,
                        clusters: Int = 6): Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(seed)
    val centres = Seq.fill(clusters)(Seq.fill(dim)(rnd.nextGaussian() * 3))
    (0 until n).map { i =>
      val c = centres(rnd.nextInt(clusters))
      val mag = math.pow(10, rnd.nextDouble() * 5 - 3)
      (i.toLong, c.map(x => (x + rnd.nextGaussian()) * mag))
    }
  }

  private def centroidFrame(cents: Seq[(Long, Seq[Double])]): DataFrame =
    cents.toDF("cid", "embedding")

  /** Runs `body` through the generated projection and the interpreted
    * one. */
  private def bothPaths(body: => Unit): Unit = {
    body
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)
  }

  private def rows(df: DataFrame): Map[Long, Seq[Any]] =
    df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap

  /** The IllegalArgumentException somewhere in `e`'s cause chain. */
  private def iae(e: Throwable): IllegalArgumentException =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: IllegalArgumentException => x }
      .getOrElse(fail("no IllegalArgumentException in the cause chain", e))

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))

  // ---- assignment ----

  test("IVF assign is bit-identical to the array_min form on seeded " +
    "Gaussians (generated and interpreted)") {
    for ((seed, dim, scale) <- Seq((1, 16, DefaultScale), (2, 64, 100),
        (3, 7, 1))) {
      val g = gaussians(seed, 1200, dim)
      val vecs = frame(g.map { case (id, v) => (id, boxed(v)) })
      val cents = centroidFrame(g.filter(_._1 % 97 == 5).take(16)
        .zipWithIndex.map { case ((_, v), i) => (i.toLong * 3 + 1, v) })
      bothPaths {
        val got = IvfIndex.assign(vecs, cents, "vec_id", "embedding", "cid",
          scale)
        val want = assignRef(vecs, cents, "vec_id", "embedding", "cid", scale)
        assert(got.schema === want.schema)
        assert(rows(got) === rows(want), s"seed $seed dim $dim scale $scale")
      }
    }
  }

  test("equidistant centroids go to the lowest cid in both kernels") {
    // (0, 0) is at distance 1 from cids 7, 3 and 5 and 2 from cid 1
    val vecs = frame(Seq((1L, boxed(Seq(0.0, 0.0)))))
    val cents = centroidFrame(Seq((7L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)),
      (5L, Seq(-1.0, 0.0)), (1L, Seq(1.0, 1.0))))
    bothPaths {
      val got = IvfIndex.assign(vecs, cents, "vec_id", "embedding", "cid", 1)
        .select("centroid_id", "d2").as[(Long, Long)].collect()
      assert(got.toSeq === Seq((3L, 1L)))
      assert(rows(IvfIndex.assign(vecs, cents, "vec_id", "embedding", "cid", 1))
        === rows(assignRef(vecs, cents, "vec_id", "embedding", "cid", 1)))
    }
    // equal double folds: 3-4-5 triangles give d2 = 25.0 exactly for
    // cids 2, 4 and 9 of subspace 0; subspace 1 ties cids 0 and 6
    val book = Seq(
      PqIndex.Codebook(0, 9, Seq(3.0, 4.0)), PqIndex.Codebook(0, 4, Seq(4.0, 3.0)),
      PqIndex.Codebook(0, 2, Seq(0.0, -5.0)), PqIndex.Codebook(0, 11, Seq(6.0, 0.0)),
      PqIndex.Codebook(1, 6, Seq(0.5, 0.5)), PqIndex.Codebook(1, 0, Seq(-0.5, -0.5)))
    val v = frame(Seq((1L, boxed(Seq(0.0, 0.0, 0.0, 0.0)))))
    bothPaths {
      val got = PqIndex.encode(v, "vec_id", "embedding", 4, 2, book)
        .select("codes").as[Seq[Int]].head()
      assert(got === Seq(2, 0))
      assert(rows(PqIndex.encode(v, "vec_id", "embedding", 4, 2, book)) ===
        rows(encodeRef(v, "vec_id", "embedding", 4, 2, book)))
    }
  }

  // ---- PQ encode ----

  test("PQ encode is bit-identical to the zip_with + array_min form on " +
    "seeded Gaussians, NaN and infinities included") {
    val dim = 16
    val g = gaussians(5, 1500, dim)
    val book = (0 until 4).flatMap { j =>
      g.filter(_._1 % 89 == 3).take(12).zipWithIndex.map { case ((_, v), c) =>
        PqIndex.Codebook(j, c * 2 + 2, v.slice(j * 4, j * 4 + 4))
      }
    } ++ Seq(
      // a centroid with a NaN element always scores NaN: it loses to
      // every number, also when it is the first candidate (cid 0 of
      // subspace 3), and among NaNs the lowest cid wins
      PqIndex.Codebook(1, 1, Seq(Double.NaN, 0.0, 0.0, 0.0)),
      PqIndex.Codebook(3, 0, Seq(0.0, Double.NaN, 0.0, 0.0)),
      PqIndex.Codebook(2, 3, Seq(Double.PositiveInfinity, 0.0, 0.0, 0.0)))
    val nan = Double.NaN
    val inf = Double.PositiveInfinity
    val special = Seq(
      Seq(nan, 0.0, 0.0, 0.0) ++ Seq.fill(12)(0.5), // subspace 0 all NaN
      Seq.fill(4)(1.0) ++ Seq(inf, 0.0, 0.0, 0.0) ++ Seq(inf) ++
        Seq.fill(7)(0.0),                            // ∞ − ∞ = NaN in subspace 2
      Seq.fill(8)(-inf) ++ Seq.fill(8)(-0.0),
      Seq.fill(16)(nan))
    val vecs = frame((g ++ special.zipWithIndex.map { case (v, i) =>
      (100000L + i, v) }).map { case (id, v) => (id, boxed(v)) })
    bothPaths {
      val got = PqIndex.encode(vecs, "vec_id", "embedding", dim, 4, book)
      val want = encodeRef(vecs, "vec_id", "embedding", dim, 4, book)
      // same types; `codes` itself is now nullable (a null vector)
      assert(got.schema.map(_.dataType) === want.schema.map(_.dataType))
      assert(rows(got) === rows(want))
    }
    val nanCodes = PqIndex.encode(vecs.filter($"vec_id" === 100003L),
      "vec_id", "embedding", dim, 4, book).select("codes").as[Seq[Int]].head()
    assert(nanCodes === Seq(2, 1, 2, 0)) // all NaN: the lowest cids
  }

  test("residuals and the residual encode are bit-identical to the " +
    "zip_with + literal map form") {
    val g = gaussians(11, 1000, 8)
    val vecs = frame(g.map { case (id, v) => (id, boxed(v)) })
    val cents = centroidFrame(g.filter(_._1 % 50 == 0).take(10)
      .zipWithIndex.map { case ((_, v), i) => (i.toLong, v.map(_ * 0.9)) })
    val book = (0 until 2).flatMap(j => g.filter(_._1 % 61 == 1).take(8)
      .zipWithIndex.map { case ((_, v), c) =>
        PqIndex.Codebook(j, c, v.slice(j * 4, j * 4 + 4).map(_ * 0.1)) })
    bothPaths {
      val got = IvfPq.residuals(vecs, cents, "vec_id", "embedding", "cid")
      val want = residualsRef(vecs, cents, "vec_id", "embedding", "cid")
      assert(rows(got) === rows(want))
      val codes = IvfPq.encodeResidual(vecs, cents, "vec_id", "embedding",
        "cid", 8, 2, book)
      val codesRef = want.select(col("id"), col("rvec"))
        .transform(r => encodeRef(r, "id", "rvec", 8, 2, book))
        .join(want.select("id", "centroid_id"), "id")
      assert(codes.schema.map(_.dataType) ===
        codesRef.select("id", "codes", "centroid_id").schema.map(_.dataType))
      assert(rows(codes) === rows(codesRef.select("id", "codes", "centroid_id")))
    }
  }

  // ---- shapes, nulls ----

  test("a vector of another length throws IllegalArgumentException " +
    "naming both lengths (generated and interpreted)") {
    val vecs = frame(Seq((1L, boxed(Seq(1.0, 2.0, 3.0)))))
    val cents = centroidFrame(Seq((0L, Seq(0.0, 0.0)), (1L, Seq(1.0, 1.0))))
    val book = Seq(PqIndex.Codebook(0, 0, Seq(0.0, 0.0)),
      PqIndex.Codebook(1, 0, Seq(0.0, 0.0)))
    bothPaths {
      for (run <- Seq[() => Any](
        () => IvfIndex.assign(vecs, cents, "vec_id", "embedding", "cid").collect(),
        () => IvfPq.residuals(vecs, cents, "vec_id", "embedding", "cid").collect(),
        () => PqIndex.encode(vecs, "vec_id", "embedding", 4, 2, book).collect())) {
        val e = iae(intercept[Exception](run()))
        assert(e.getMessage.contains("3") &&
          (e.getMessage.contains("2") || e.getMessage.contains("4")), e.getMessage)
      }
    }
  }

  test("a null element throws; a null vector gets a null centroid_id, " +
    "d2, residual and codes") {
    val cents = centroidFrame(Seq((0L, Seq(1.0, 0.0)), (1L, Seq(5.0, 5.0))))
    val book = Seq(PqIndex.Codebook(0, 0, Seq(1.0)), PqIndex.Codebook(1, 0, Seq(0.0)),
      PqIndex.Codebook(1, 1, Seq(2.0)))
    val withNull = frame(Seq((1L, Seq[java.lang.Double](1.0, null))))
    bothPaths {
      for (run <- Seq[() => Any](
        () => IvfIndex.assign(withNull, cents, "vec_id", "embedding", "cid").collect(),
        () => IvfPq.residuals(withNull, cents, "vec_id", "embedding", "cid").collect(),
        () => PqIndex.encode(withNull, "vec_id", "embedding", 2, 2, book).collect())) {
        val e = iae(intercept[Exception](run()))
        assert(e.getMessage.contains("null element"), e.getMessage)
      }
      val nullVec = frame(Seq((2L, null), (3L, boxed(Seq(4.0, 4.0)))))
      val a = IvfIndex.assign(nullVec, cents, "vec_id", "embedding", "cid")
        .select("id", "centroid_id", "d2").collect().map(_.toSeq).toSet
      assert(a === Set(Seq(2L, null, null), Seq(3L, 1L, 20000L * 10000L)))
      val r = IvfPq.residuals(nullVec, cents, "vec_id", "embedding", "cid")
        .collect().map(_.toSeq).toSet
      assert(r === Set(Seq(2L, null, null), Seq(3L, 1L, Seq(-1.0, -1.0))))
      val c = PqIndex.encode(nullVec, "vec_id", "embedding", 2, 2, book)
        .collect().map(_.toSeq).toSet
      assert(c === Set(Seq(2L, null), Seq(3L, Seq(0, 1))))
    }
  }

  // ---- Lloyd training ----

  private def assertCentroidsClose(got: Seq[(Long, Seq[Double])],
                                   want: Seq[(Long, Seq[Double])]): Unit = {
    assert(got.map(_._1) === want.map(_._1))
    got.zip(want).foreach { case ((cid, g), (_, w)) =>
      assert(g.length === w.length)
      assert(g.zip(w).forall { case (a, b) => close(a, b) }, s"cid $cid: $g vs $w")
    }
  }

  test("IvfIndex.train matches the exploded-avg Lloyd rounds: centroids " +
    "within 1e-12 relative, identical assignments") {
    val small = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(0.0, 2.0)),
      (2L, Seq(10.0, 10.0)), (3L, Seq(10.0, 12.0)))
    for ((data, k, iters) <- Seq((small, 2, 3), (gaussians(7, 2000, 16), 8, 3),
        (gaussians(8, 600, 5, clusters = 3), 12, 2))) {
      val vecs = frame(data.map { case (id, v) => (id, boxed(v)) })
      def cents(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
      val got = IvfIndex.train(spark, vecs, "vec_id", "embedding", k, iters)
      val want = trainRef(spark, vecs, "vec_id", "embedding", k, iters)
      assert(got.schema === want.schema)
      assertCentroidsClose(cents(got), cents(want))
      assert(rows(IvfIndex.assign(vecs, got, "vec_id", "embedding", "cid")) ===
        rows(assignRef(vecs, want, "vec_id", "embedding", "cid")))
    }
  }

  test("PqIndex.train trains all subspaces in one pass per round: " +
    "codebooks within 1e-12 relative of per-subspace training, identical codes") {
    val pqVecs = Seq((0L, Seq(0.0, 0.0, 10.0, 10.0)), (1L, Seq(0.1, 0.0, 10.0, 10.1)),
      (2L, Seq(9.0, 9.0, 0.0, 0.0)), (3L, Seq(9.1, 9.0, 0.1, 0.0)),
      (4L, Seq(0.0, 0.1, 0.0, 0.1)))
    for ((data, dim, m, ksub, iters) <- Seq((pqVecs, 4, 2, 2, 3),
        (gaussians(9, 2000, 16), 16, 4, 8, 2),
        (gaussians(10, 300, 6, clusters = 2), 6, 3, 16, 3))) {
      val vecs = frame(data.map { case (id, v) => (id, boxed(v)) })
      def key(b: Seq[PqIndex.Codebook]) =
        b.map(cb => ((cb.sub.toLong << 32) | cb.cid, cb.centroid)).sortBy(_._1)
      val got = PqIndex.train(spark, vecs, "vec_id", "embedding", dim, m, ksub, iters)
      val want = pqTrainRef(vecs, "vec_id", "embedding", dim, m, ksub, iters)
      assertCentroidsClose(key(got), key(want))
      assert(rows(PqIndex.encode(vecs, "vec_id", "embedding", dim, m, got)) ===
        rows(encodeRef(vecs, "vec_id", "embedding", dim, m, want)))
    }
  }

  test("lloydStep and graft_vecsum sum array<double> vectors; other " +
    "element types fail the type check") {
    val assigned = Seq((0L, Seq(1.0, 2.0)), (0L, Seq(2.0, 4.0)), (1L, Seq(0.5, 0.25)))
      .toDF("centroid_id", "vec")
    val m = IvfIndex.lloydStep(assigned).as[(Long, Seq[Double])].collect().toMap
    assert(m === Map(0L -> Seq(1.5, 3.0), 1L -> Seq(0.5, 0.25)))
    Seq((0L, Seq(1.5, 2.0)), (0L, Seq(0.25, 4.0))).toDF("lab", "v")
      .createOrReplaceTempView("vsd_in")
    assert(spark.sql("SELECT graft_vecsum(v) FROM vsd_in GROUP BY lab")
      .as[Seq[Double]].collect().toSeq === Seq(Seq(1.75, 6.0)))
    val e = intercept[Exception](spark.sql(
      "SELECT graft_vecsum(array(1, 2))").collect())
    assert(e.getMessage.contains("array<bigint> or array<double>"), e.getMessage)
  }

  // ---- the audit gate ----

  test("ExplainAudit flags the array_min argmin and passes the kernels") {
    val vecs = frame(Seq((1L, boxed(Seq(1.0, 2.0)))))
    val cents = centroidFrame(Seq((0L, Seq(0.0, 0.0)), (1L, Seq(1.0, 1.0))))
    val book = Seq(PqIndex.Codebook(0, 0, Seq(0.0)), PqIndex.Codebook(1, 0, Seq(0.0)))
    def flagged(df: DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(
        _.flatMap(e => ExplainAudit.handRolledKernel(e).toSeq)))
    assert(flagged(assignRef(vecs, cents, "vec_id", "embedding", "cid"))
      .exists(_.contains("argmin")))
    assert(flagged(encodeRef(vecs, "vec_id", "embedding", 2, 2, book))
      .exists(_.contains("argmin")))
    assert(flagged(IvfIndex.assign(vecs, cents, "vec_id", "embedding", "cid")).isEmpty)
    assert(flagged(IvfPq.encodeResidual(vecs, cents, "vec_id", "embedding", "cid",
      2, 2, book)).isEmpty)
    assert(flagged(vecs.select(CentroidKernels.nearestInt(
      quantize(col("embedding")), 2, 0, Seq((4L, Array(1L, 2L)))))).isEmpty)
  }
}
