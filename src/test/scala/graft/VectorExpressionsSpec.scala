package graft

import graft.functions.VectorFunctions._
import graft.plans.Quantize
import graft.sources.Tables
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.ArrayTransform
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  // Composed-builtin (zip_with + aggregate) and transform forms of the
  // native kernels: the references the kernels must match.
  private def foldSum(v: Column, zero: Column): Column =
    aggregate(v, zero, (acc, x) => acc + x)
  private def intL2SqHof(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L))
  private def intDotHof(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => x * y), lit(0L))
  private def quantizeHof(v: Column, scale: Int): Column =
    transform(toDoubleArray(v), x => round(x * lit(scale)).cast("long"))

  test("native kernels match the composed-builtin forms on real data") {
    val e = Tables.embeddings(spark, sf).limit(50)
      .select($"vec_id", quantize($"embedding").as("q"))
    val pairs = e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
    val diff = pairs.select(
      intL2Sq($"a.q", $"b.q").as("native_l2"),
      intL2SqHof($"a.q", $"b.q").as("hof_l2"),
      intDot($"a.q", $"b.q").as("native_dot"),
      intDotHof($"a.q", $"b.q").as("hof_dot"))
      .filter($"native_l2" =!= $"hof_l2" || $"native_dot" =!= $"hof_dot")
    assert(diff.count() === 0)
  }

  test("kernels evaluate correctly (interpreted + codegen)") {
    val df = Seq((Array(1L, 2L, 3L), Array(4L, 6L, 8L))).toDF("a", "b")
    val r = df.select(intL2Sq($"a", $"b"), intDot($"a", $"b"))
      .as[(Long, Long)].head()
    assert(r === ((9L + 16L + 25L, 4L + 12L + 24L)))
  }

  test("registered functions work from SQL") {
    val r = spark.sql(
      "SELECT graft_l2sq(array(0L, 3L), array(4L, 0L)) AS d, " +
      "graft_dot(array(2L, 3L), array(5L, 7L)) AS p")
      .collect().head
    assert(r.getLong(0) === 25L)
    assert(r.getLong(1) === 31L)
  }

  /** The IllegalArgumentException somewhere in `e`'s cause chain. */
  private def mismatch(e: Throwable): IllegalArgumentException =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: IllegalArgumentException => x }
      .getOrElse(fail(s"no IllegalArgumentException in the cause chain", e))

  test("graft_l2sq/graft_dot reject arrays of different lengths " +
    "(SQL, interpreted and codegen) instead of reading past the shorter") {
    for (fn <- Seq("graft_l2sq", "graft_dot")) {
      val e = mismatch(intercept[Exception](
        spark.sql(s"SELECT $fn(array(1L, 2L), array(1L))").collect()))
      assert(e.getMessage.contains(fn) && e.getMessage.contains("2") &&
        e.getMessage.contains("1"), e.getMessage)
    }
    // a parallelized (non-local) relation keeps the projection in
    // whole-stage codegen
    val df = spark.sparkContext.parallelize(Seq((Seq(1L, 2L, 3L), Seq(4L))))
      .toDF("a", "b")
    for (c <- Seq(intL2Sq($"a", $"b"), intDot($"b", $"a"))) {
      val e = mismatch(intercept[Exception](df.select(c).collect()))
      assert(e.getMessage.contains("3") && e.getMessage.contains("1"),
        e.getMessage)
    }
  }

  test("the blocked KNN scan rejects a gallery vector of another length") {
    val g = spark.sparkContext.parallelize(Seq((1L, Seq(1L, 2L, 3L))))
      .toDF("id", "v")
    val q = Seq((7L, Seq(1L, 2L))).toDF("id", "v")
    val e = mismatch(intercept[Exception](graft.operators.KnnJoin
      .knnL2Pre(g, q, "id", "v", "id", k = 1).collect()))
    assert(e.getMessage.contains("3") && e.getMessage.contains("2"),
      e.getMessage)
  }

  /** Asserts `run` throws an IllegalArgumentException naming a null
    * element. */
  private def assertNullElement(run: => Any): Unit = {
    val e = mismatch(intercept[Exception](run))
    assert(e.getMessage.contains("null element"), e.getMessage)
  }

  test("graft_l2sq/graft_dot reject a null element (interpreted and " +
    "codegen) instead of reading it as 0") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(Seq(1L, null), Seq(1L, 0L)))),
      StructType(Seq("a", "b").map(StructField(_,
        ArrayType(LongType, containsNull = true)))))
    for (fn <- Seq("graft_l2sq", "graft_dot")) {
      def run(): Unit = {
        assertNullElement(spark.sql(
          s"SELECT $fn(array(1L, NULL), array(1L, 0L))").collect())
        assertNullElement(df.selectExpr(s"$fn(a, b)").collect())
        assertNullElement(df.selectExpr(s"$fn(b, a)").collect())
      }
      // no silent fallback: the generated code itself must throw
      withConf("spark.sql.codegen.fallback" -> "false")(run())
      withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    }
  }

  test("the blocked KNN scan rejects a null element in a gallery or a " +
    "query vector and still skips null vectors") {
    def frame(rows: (Long, Seq[Any])*): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v) }, 2),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType, containsNull = true)))))
    val ok = frame((1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.0)), (3L, null))
    val holed = frame((4L, Seq(1.0, null)))
    def knn(g: DataFrame, q: DataFrame) = graft.operators.KnnJoin
      .knnL2(g, q, "vec_id", "embedding", "vec_id", k = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assertNullElement(knn(ok.union(holed), ok))
    assertNullElement(knn(ok, ok.union(holed)))
    assert(knn(ok, ok) === Set((1L, 1L), (1L, 2L), (2L, 2L), (2L, 1L)))
  }

  /** One numeric-array column `v`, in a parallelized (non-local)
    * relation so the projection is planned, not folded into a local
    * relation by the optimizer. */
  private def arrays(elem: org.apache.spark.sql.types.DataType,
                     rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map(r => Row(if (r == null) null else r)), 4),
      StructType(Seq(StructField("v", ArrayType(elem, containsNull = true)))))

  /** Asserts quantize(v, scale) equals the transform form row for row,
    * with the same result type, through the generated projection and
    * the interpreted one. */
  private def assertQuantizeMatches(df: DataFrame, scale: Int): Unit = {
    def run(): Unit = {
      val out = df.select(quantize($"v", scale).as("n"),
        quantizeHof($"v", scale).as("r"))
      assert(out.schema("n").dataType === out.schema("r").dataType)
      val rows = out.collect()
      assert(rows.length === df.count())
      rows.foreach { r =>
        assert(Option(r.getSeq[Any](0)) === Option(r.getSeq[Any](1)),
          s"scale $scale")
      }
    }
    run()
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
  }

  test("quantize is bit-identical to round(x * scale).cast(long) on " +
    "seeded Gaussians over 1e-4 .. 1e4, half ties and their neighbours") {
    val rnd = new scala.util.Random(17)
    val gauss = Seq.fill(1600)(Seq.fill(64)(
      rnd.nextGaussian() * math.pow(10, rnd.nextDouble() * 8 - 4)))
    val scales = Seq(1, 100, 255, 10000)
    val ties = for {
      s <- scales
      k <- -300 to 300
      t <- Seq(k + 0.5, (k + 0.5) / s)
    } yield Seq(t, math.nextUp(t), math.nextDown(t))
    val edge = Seq(Seq(-0.0, 0.0, 0.49999999999999994,
      -0.49999999999999994, 0.5, -0.5, 1e-300, -1e-300,
      Double.MinPositiveValue, 9.2e14, -9.2e14))
    val df = arrays(DoubleType, gauss ++ ties ++ edge)
    assert(gauss.map(_.size).sum >= 100000)
    scales.foreach(assertQuantizeMatches(df, _))
    // around 2^52, where doubles stop having a fractional part
    val big = Seq(4503599627370495.5, 4503599627370497.0, 9007199254740993.0)
    assertQuantizeMatches(arrays(DoubleType,
      Seq(big, big.map(-_), big.map(math.nextDown))), 1)
  }

  test("quantize keeps int and float inputs, nulls and the result type " +
    "of the transform form") {
    val rnd = new scala.util.Random(5)
    val ints = arrays(IntegerType, Seq.fill(200)(Seq.fill(16)(
      rnd.nextInt(2000001) - 1000000)))
    val floats = arrays(FloatType, Seq.fill(200)(Seq.fill(16)(
      (rnd.nextGaussian() * 100).toFloat)) :+ Seq(0.5f, -2.5f, 0.125f))
    val nulls = arrays(DoubleType, Seq(Seq(1.5, null, -2.5), null,
      Seq(null), Seq(), Seq(0.004, 0.005, null)))
    for (df <- Seq(ints, floats, nulls); s <- Seq(1, 100, 255, 10000))
      assertQuantizeMatches(df, s)
    val got = nulls.select(quantize($"v", 1)).collect().map(r =>
      Option(r.getSeq[Any](0)).map(_.toList))
    assert(got.toList === List(Some(List(2L, null, -3L)), None,
      Some(List(null)), Some(Nil), Some(List(0L, 0L, null))))
    // the result type is the transform form's (its round is nullable)
    val noNulls = Seq(Seq(1.0)).toDF("v")
    assert(noNulls.select(quantize($"v")).schema.head.dataType ===
      noNulls.select(quantizeHof($"v", DefaultScale)).schema.head.dataType)
    assert(noNulls.select(quantize($"v")).schema.head.dataType ===
      ArrayType(org.apache.spark.sql.types.LongType, containsNull = true))
  }

  /** The `[CAST_OVERFLOW]` arithmetic error (Spark's
    * `SparkArithmeticException`) somewhere in `e`'s cause chain. */
  private def castOverflow(e: Throwable): SparkThrowable =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: ArithmeticException with SparkThrowable => x }
      .filter(_.getCondition == "CAST_OVERFLOW")
      .getOrElse(fail("no CAST_OVERFLOW in the cause chain", e))

  test("quantize of NaN, ±Inf and out-of-range values follows the cast: " +
    "CAST_OVERFLOW under ANSI, 0 or clamped without") {
    val bad = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e300, -1e300)
    withConf("spark.sql.ansi.enabled" -> "true") {
      for (x <- bad; s <- Seq(1, 10000)) {
        val df = arrays(DoubleType, Seq(Seq(1.0, x)))
        castOverflow(intercept[Exception](
          df.select(quantize($"v", s)).collect()))
        castOverflow(intercept[Exception](
          df.select(quantizeHof($"v", s)).collect()))
        withConf("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
          castOverflow(intercept[Exception](
            df.select(quantize($"v", s)).collect()))
        }
      }
    }
    withConf("spark.sql.ansi.enabled" -> "false") {
      val df = arrays(DoubleType, Seq(bad))
      Seq(1, 10000).foreach(assertQuantizeMatches(df, _))
      assert(df.select(quantize($"v", 1)).head().getSeq[Long](0) ===
        Seq(0L, Long.MaxValue, Long.MinValue, Long.MaxValue, Long.MinValue))
    }
  }

  /** Every node of `p`, through AQE and query-stage wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other.children.flatMap(nodes)
  })

  private def hasExpr(p: SparkPlan, f: PartialFunction[Any, Boolean]) =
    p.expressions.exists(_.find(e => f.applyOrElse(e, (_: Any) => false))
      .isDefined)

  test("quantize runs once per row: never fused into a codegen'd " +
    "nested-loop join, and knnL2 plans no transform lambda") {
    val rnd = new scala.util.Random(11)
    def vecs(n: Int, id: String, v: String) = spark.sparkContext
      .parallelize((0 until n).map(i =>
        (i.toLong, Seq.fill(8)(rnd.nextGaussian()))), 4).toDF(id, v)
    val gallery = vecs(300, "id", "v")
    val queries = vecs(5, "qid", "qv")
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val scored = gallery.select($"id", quantize($"v").as("gv"))
        .crossJoin(broadcast(queries.select($"qid",
          quantize($"qv").as("q"))))
        .select($"qid", $"id", intL2Sq($"gv", $"q").as("d2"))
      // the nodes one codegen stage fuses: its subtree down to (not
      // past) the InputAdapters that feed it
      def fused(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case _: InputAdapter => Nil
        case other => other.children.flatMap(fused)
      })
      val stages = scored.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => fused(w.child) }
      val joinStages = stages.filter(
        _.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
      assert(joinStages.nonEmpty, scored.queryExecution.executedPlan)
      joinStages.foreach(s => assert(
        !s.exists(hasExpr(_, { case _: Quantize => true })),
        scored.queryExecution.executedPlan))
      assert(scored.count() === 1500)
    }
    val knn = graft.operators.KnnJoin.knnL2(gallery, queries.toDF("id", "v"),
      "id", "v", "id", k = 3)
    assert(knn.count() === 15)
    val plan = nodes(knn.queryExecution.executedPlan)
    assert(plan.exists(hasExpr(_, { case _: Quantize => true })))
    assert(!plan.exists(hasExpr(_, { case _: ArrayTransform => true })))
  }
}
