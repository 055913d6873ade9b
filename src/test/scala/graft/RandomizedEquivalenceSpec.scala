package graft

import graft.functions.VectorFunctions.{DefaultScale, cosineFromInts,
  distFromIntSq, intDot, intL2Sq, intNormSq, quantize}
import graft.operators.{Dedup, KnnJoin, TemporalJoins, TopK}
import graft.plans.{KnnMetric, KnnScanExec}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** Seeded-randomized equivalence checks: the operators with novel
  * pruning/distribution logic must match a naive reference
  * implementation on arbitrary inputs — ties, duplicates, hot keys and
  * all. Fixed seeds keep runs deterministic. */
class RandomizedEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  /** Composed-builtin form of `TextFunctions.simhash64` (the HOF form
    * the native kernel replaced): ONE `aggregate` over the token array
    * whose accumulator is the 64-long vote vector, so the per-token md5
    * array is evaluated once per row, not once per bit. */
  private def simhash64Hof(text: Column): Column = {
    // Hex digit value of a 1-char column ('0'-'9','a'-'f').
    def hexVal(c: Column): Column =
      when(ascii(c) >= 97, ascii(c) - 87).otherwise(ascii(c) - 48)
    // NULL text folds to an empty token set so the aggregate keeps its
    // all-zero initial votes and the fingerprint stays the documented
    // 64-char zero string (aggregate over NULL would return NULL and
    // concat_ws would silently emit "").
    val hexes = coalesce(
      transform(graft.functions.TextFunctions.distinctTokens(text),
        t => substring(md5(t), 1, 16)),
      array().cast("array<string>"))
    val weights = array(lit(8), lit(4), lit(2), lit(1))
    // votes[j] += bit_j(md5(token)) ? +1 : -1, for all 64 j per token:
    // char index j div 4, bit weight 8/4/2/1 by j mod 4.
    val votes = aggregate(hexes, array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)), (a, j) => {
        val p = element_at(weights, (j % 4).cast("int") + 1)
        val d = hexVal(h.substr((j / 4).cast("int") + 1, lit(1)))
        a + ((d / p).cast("int") % 2) * 2 - 1
      }))
    concat_ws("",
      transform(votes, v => when(v > 0, lit("1")).otherwise(lit("0"))))
  }

  test("native simhash64 == composed HOF form on random corpora " +
    "(unicode, empty, null, single-token, heavy-duplicate texts)") {
    val rnd = new scala.util.Random(41)
    val vocab = Vector("the", "café", "δx", "a", "b", "zzz", "東京", "q1")
    val texts: Seq[String] = Seq(null, "", "a", "the the the") ++
      (1 to 60).map { _ =>
        Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val both = df.select($"id",
        graft.functions.TextFunctions.simhash64($"text").as("native"),
        simhash64Hof($"text").as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"id=${r.getLong(0)}: ${r.getString(1)} != ${r.getString(2)}")
      assert(r.getString(1).length == 64)
    }
  }

  test("ngramJaccardPairs == naive all-pairs on random hot-vocab corpora") {
    val rnd = new scala.util.Random(7)
    // sweep thresholds whose FP products land exactly ON integers
    // (0.2, 0.4) — the cases where a naive ceil() overshoots the
    // mathematical pruning bound and would drop qualifying pairs
    for (trial <- 1 to 4; threshold <- Seq(0.2, 0.3, 0.4)) {
      // tiny vocabulary → many shared (hot) shingles: stresses the
      // prefix/length/count pruning where it could lose pairs
      val vocab = Vector("a", "b", "c", "d", "e", "f")
      val docs = (1 to 36).map { id =>
        val len = 2 + rnd.nextInt(18)
        (id.toLong,
          Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "),
          s"s${rnd.nextInt(2)}")
      }
      val got = Dedup.ngramJaccardPairs(docs.toDF("doc_id", "text", "source"),
          "doc_id", "text", "source", shingleN = 2, threshold = threshold)
        .select("a_id", "b_id", "jaccard")
        .as[(Long, Long, Double)].collect()
        .map(x => (x._1, x._2) -> x._3).toMap
      def sh(t: String): Set[String] = {
        val toks = t.split(" ")
        if (toks.length < 2) Set.empty
        else toks.sliding(2).map(_.mkString(" ")).toSet
      }
      val bySrc = docs.groupBy(_._3)
      val expected = (for {
        (_, ds) <- bySrc.toSeq
        a <- ds; b <- ds if a._1 < b._1
        sa = sh(a._2); sb = sh(b._2)
        inter = (sa & sb).size
        uni = sa.size + sb.size - inter
        if uni > 0 && inter.toDouble / uni >= threshold
      } yield (a._1, b._1) -> inter.toDouble / uni).toMap
      assert(got.keySet === expected.keySet,
        s"trial=$trial threshold=$threshold")
      expected.foreach { case (p, j) => assert(got(p) === j) }
    }
  }

  test("TopK.perGroup survives NaN scores (zero-norm cosine) ranking them last") {
    val rows = Seq(
      (1L, 10L, 2.0), (1L, 11L, Double.NaN), (1L, 12L, 1.0),
      (1L, 13L, Double.NaN), (1L, 14L, 3.0))
    val r = TopK.perGroup(rows.toDF("g", "id", "score"),
        "g", "id", "score", k = 4, ascending = true)
      .select("rnk", "id").as[(Long, Long)].collect().toSet
    assert(r === Set((1L, 12L), (2L, 10L), (3L, 14L), (4L, 11L)))
  }

  test("TopK.perGroup == global sort-take-k on random scores with ties") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 500).map { i =>
      (rnd.nextInt(5).toLong, i.toLong, rnd.nextInt(20).toDouble)
    }
    for (asc <- Seq(true, false)) {
      val got = TopK.perGroup(rows.toDF("g", "id", "score"),
          "g", "id", "score", k = 4, ascending = asc)
        .select("g", "rnk", "id").as[(Long, Long, Long)].collect().toSet
      val expected = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        val sorted = rs.sortBy(r =>
          (if (asc) r._3 else -r._3, r._2)).take(4)
        sorted.zipWithIndex.map { case (r, i) => (g, (i + 1).toLong, r._2) }
      }.toSet
      assert(got === expected)
    }
  }

  test("asofJoin == naive latest-at-or-before on random event streams") {
    val rnd = new scala.util.Random(13)
    val quotes = (1 to 120).map(i =>
      (rnd.nextInt(6).toLong, rnd.nextInt(40).toLong, i.toLong))
    val probes = (200 to 260).map(i =>
      (rnd.nextInt(7).toLong, rnd.nextInt(40).toLong, i.toLong))
    val got = TemporalJoins.asofJoin(probes.toDF("k", "t", "i"),
        quotes.toDF("k", "t", "i"), "k", "t", "i")
      .select("i", "asof_ts", "asof_id")
      .as[(Long, Long, Long)].collect()
      .map { case (i, t, q) => i -> ((t, q)) }.toMap
    val expected = probes.flatMap { case (k, t, i) =>
      val prior = quotes.filter(q => q._1 == k && q._2 <= t)
      if (prior.isEmpty) None
      else Some(i -> { val b = prior.maxBy(q => (q._2, q._3)); (b._2, b._3) })
    }.toMap
    assert(got === expected)
  }

  test("classCompactness identity == naive all-pairs mean on random vectors") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val dim = 6
      val rows = (1 to 50).map { i =>
        (i.toLong, rnd.nextInt(4),
          Seq.fill(dim)((rnd.nextInt(20001) - 10000) / 10000.0f))
      }
      val got = graft.operators.Centroids.classCompactness(
          rows.toDF("vec_id", "label", "embedding"), "label", "embedding")
        .select("label_id", "mean_sq_dist").as[(Long, Double)]
        .collect().toMap
      // naive: exact BigInt pairwise mean over the same quantization
      def q(x: Float): BigInt = BigInt(math.round(x.toDouble * 10000))
      val expected = rows.groupBy(_._2).map { case (lab, vs) =>
        val qs = vs.map(_._3.map(q))
        val pairs = for (a <- qs.indices; b <- a + 1 until qs.size) yield
          qs(a).zip(qs(b)).map { case (x, y) => (x - y) * (x - y) }.sum
        val nP = qs.size.toLong * (qs.size - 1) / 2
        lab.toLong ->
          (if (nP == 0) 0.0
           else (pairs.sum.toDouble / nP.toDouble) / 1e8)
      }
      assert(got.keySet === expected.keySet, s"trial=$trial")
      expected.foreach { case (lab, m) =>
        // both sides are one IEEE division chain over the same exact
        // integer numerator — tolerance only for the double-vs-BigInt
        // conversion path difference in the naive sum
        assert(math.abs(got(lab) - m) <= math.ulp(m) * 8, s"trial=$trial lab=$lab")
      }
    }
  }

  test("modalCount == naive frequency max on random token arrays") {
    val rnd = new scala.util.Random(13)
    val vocab = Vector("x", "y", "z", "w")
    val rows = (1 to 40).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))))
    } :+ (41L, Seq.empty[String])
    val got = rows.toDF("id", "toks")
      .select($"id", graft.functions.TextFunctions.modalCount($"toks").as("m"))
      .as[(Long, Long)].collect().toMap
    val expected = rows.map { case (id, toks) =>
      id -> (if (toks.isEmpty) 0L
             else toks.groupBy(identity).values.map(_.size).max.toLong)
    }.toMap
    assert(got === expected)
  }

  test("two-phase t5 top-k == single-window top-k on hot-vocab corpora") {
    // the de-skewed t5 plan (salted pre-rank → tiny final window) must
    // equal the naive one-window form on arbitrary tie-heavy counts
    val rnd = new scala.util.Random(19)
    for (trial <- 1 to 3) {
      val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
      val docs = (1 to 60).map { i =>
        (i.toLong,
          Seq.fill(1 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
            .mkString(" "),
          "en", s"s${rnd.nextInt(3)}", 0L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      withTempDir(s"t5equiv$trial") { dir =>
        docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val got = graft.queries.Queries.t5TopTerms(spark, dir)
          .select("source", "rnk", "token", "n")
          .as[(String, Long, String, Long)].collect().toSet
        // naive reference: per-source sort by (n desc, token), take 5
        val counts = docs
          .select($"source",
            explode(graft.functions.TextFunctions.tokens($"text")).as("tk"))
          .groupBy("source", "tk").count()
          .as[(String, String, Long)].collect()
        val expected = counts.groupBy(_._1).toSeq.flatMap { case (src, rs) =>
          rs.sortBy(r => (-r._3, r._2)).take(5).zipWithIndex
            .map { case (r, i) => (src, (i + 1).toLong, r._2, r._3) }
        }.toSet
        assert(got === expected, s"trial=$trial")
      }
    }
  }

  test("histogram ntile/rank (q13/q14 shape) == window built-ins on " +
    "random tie-heavy balances") {
    // the de-skewed q13/q14 plans must equal ntile()/rank()/
    // percent_rank() windows on arbitrary tie-heavy data, including
    // nations with < 4 customers (the div-by-zero guard branch)
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val rows = (1 to 200).map { i =>
        (s"n${rnd.nextInt(6)}", i.toLong,
          // coarse grid forces heavy ties
          (rnd.nextInt(8) * 25).toDouble / 10.0)
      } ++ Seq(("tiny", 9001L, 1.0), ("tiny", 9002L, 1.0),
        ("tiny2", 9003L, 5.0)) // 2-row and 1-row nations
      val df = rows.toDF("n_name", "c_custkey", "c_acctbal")

      // ---- q13 histogram quartile vs ntile() ----
      val hist = df.groupBy("n_name", "c_acctbal")
        .agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy("n_name")
        .orderBy(col("c_acctbal").desc)
      val cum = hist
        .withColumn("cum_before",
          (sum("cnt").over(wCum) - col("cnt")).cast("long"))
        .withColumn("n_tot",
          sum("cnt").over(Window.partitionBy("n_name")).cast("long"))
      val wTie = Window.partitionBy("n_name", "c_acctbal")
        .orderBy("c_custkey")
      val quart = when(
        expr("p <= (n_tot % 4) * (n_tot div 4 + 1)"),
        expr("(p - 1) div (n_tot div 4 + 1) + 1"))
        .otherwise(expr(
          "n_tot % 4 + (p - (n_tot % 4) * (n_tot div 4 + 1) - 1) " +
            "div (n_tot div 4) + 1"))
      val gotQ = df
        .withColumn("tie_rk", row_number().over(wTie).cast("long"))
        .join(cum, Seq("n_name", "c_acctbal"))
        .withColumn("p", col("cum_before") + col("tie_rk"))
        .withColumn("quartile", quart.cast("long"))
        .select($"n_name", $"c_custkey", $"quartile")
        .as[(String, Long, Long)].collect().toSet
      val wNt = Window.partitionBy("n_name")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      val expQ = df.withColumn("quartile", ntile(4).over(wNt).cast("long"))
        .select($"n_name", $"c_custkey", $"quartile")
        .as[(String, Long, Long)].collect().toSet
      assert(gotQ === expQ, s"q13 trial=$trial")

      // ---- q14 histogram rank/pct vs rank()/percent_rank() ----
      val ranked = hist
        .withColumn("rnk",
          (sum("cnt").over(wCum) - col("cnt") + 1).cast("long"))
        .withColumn("n_tot",
          sum("cnt").over(Window.partitionBy("n_name")).cast("long"))
      val gotR = df.join(ranked, Seq("n_name", "c_acctbal"))
        .select($"n_name", $"c_custkey", $"rnk",
          when($"n_tot" === 1L, lit(0.0))
            .otherwise(($"rnk" - 1).cast("double")
              / ($"n_tot" - 1).cast("double")).as("pr"))
        .as[(String, Long, Long, Double)].collect().toSet
      val wR = Window.partitionBy("n_name").orderBy(col("c_acctbal").desc)
      val expR = df
        .withColumn("rnk", rank().over(wR).cast("long"))
        .withColumn("pr", percent_rank().over(wR))
        .select($"n_name", $"c_custkey", $"rnk", $"pr")
        .as[(String, Long, Long, Double)].collect().toSet
      assert(gotR === expR, s"q14 trial=$trial")
    }
  }

  test("anti-join df cap in overlapPairs == window df cap") {
    // the de-skewed cap (groupBy + anti-join of over-df fps) must equal
    // the window form it replaced, including AT the cap boundary
    val rnd = new scala.util.Random(23)
    val vocab = Vector("p", "q", "r", "s", "t", "u")
    val docs = (1 to 40).map { i =>
      (i.toLong,
        Seq.fill(4 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
    }.toDF("doc_id", "text")
    for (maxDf <- Seq(1L, 3L, 8L, 1000L)) {
      val got = Dedup.overlapPairs(docs, "doc_id", "text",
          shingleN = 2, window = 3, maxDf = maxDf, minShared = 1L)
        .select("a_id", "b_id", "n_shared")
        .as[(Long, Long, Long)].collect().toSet
      // naive window-form reference
      import graft.functions.TextFunctions._
      val fps = docs
        .select(col("doc_id").cast("long").as("doc_id"),
          positionalShingleHashes(col("text"), 2).as("hs"))
        .select(col("doc_id"), explode(windowMins(col("hs"), 3)).as("fp"))
      val capped = fps
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("fp")))
        .filter(col("df") <= maxDf)
        .select("doc_id", "fp")
      val expected = capped.as("x").join(capped.as("y"),
          col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .agg(count(lit(1)).as("n_shared"))
        .select("a_id", "b_id", "n_shared")
        .as[(Long, Long, Long)].collect().toSet
      assert(got === expected, s"maxDf=$maxDf")
    }
  }

  test("rangeJoinAgg == naive window count on random event streams") {
    val rnd = new scala.util.Random(17)
    val quotes = (1 to 150).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(100).toLong))
      .toDF("k", "t").withColumn("i", lit(0L))
    val probesSeq = (300 to 360).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(100).toLong, i.toLong))
    val got = TemporalJoins.rangeJoinAgg(probesSeq.toDF("k", "t", "i"),
        quotes, "k", "t", "i", delta = 13L)
      .select("i", "n_range").as[(Long, Long)].collect().toMap
    val qRows = quotes.select("k", "t").as[(Long, Long)].collect()
    val expected = probesSeq.flatMap { case (k, t, i) =>
      val n = qRows.count(q => q._1 == k && q._2 >= t - 13 && q._2 < t)
      if (n == 0) None else Some(i -> n.toLong)
    }.toMap
    assert(got === expected)
  }

  // ---- the blocked exact scan (KnnJoin) against its crossjoin form ----

  /** Reference: KnnJoin as a crossjoin, one scored row per (query,
    * gallery) pair into TopK.perGroup. A zero-norm
    * cosine is NaN here as in the scan (Spark's ANSI division would
    * throw on it; the norms multiply as doubles, as in the scan, since
    * wide vectors' long product overflows). Same output columns as the
    * KnnJoin wrapper. */
  private def crossjoinKnn(metric: KnnMetric, gallery: DataFrame,
                           queries: DataFrame, k: Int, scale: Int = 1): DataFrame = {
    val g = gallery.select(col("id").cast("long").as("neighbor_id"),
      quantize(col("v"), scale).as("gv"))
    val q = queries.select(col("id").cast("long").as("query_id"),
      quantize(col("v"), scale).as("qv"))
    val (gv, qv) = (col("gv"), col("qv"))
    val score: Column = metric match {
      case KnnMetric.L2 => intL2Sq(gv, qv).cast("double")
      case KnnMetric.Dot => intDot(gv, qv).cast("double")
      case KnnMetric.Cosine =>
        when(intNormSq(gv).cast("double") * intNormSq(qv) === 0.0, lit(Double.NaN))
          .otherwise(cosineFromInts(intDot(gv, qv), intNormSq(gv),
            intNormSq(qv)))
    }
    val ranked = TopK.perGroup(g.join(broadcast(q)).select(col("query_id"),
        col("neighbor_id"), score.as("score")),
      "query_id", "neighbor_id", "score", k, metric.ascending)
    ranked.select(col("query_id"), col("rnk"), col("neighbor_id"),
      (metric match {
        case KnnMetric.L2 => distFromIntSq(col("score"), scale)
        case KnnMetric.Dot => col("score") / lit(scale.toDouble * scale)
        case KnnMetric.Cosine => col("score")
      }).as("score"))
  }

  /** (query_id, neighbor_id, gv, qv) for every (query, gallery) pair:
    * the candidate rows `KnnJoin.rankPairs` takes. */
  private def pairs(gallery: DataFrame, queries: DataFrame): DataFrame =
    gallery.select(col("id").cast("long").as("neighbor_id"),
        quantize(col("v"), 1).as("gv"))
      .crossJoin(queries.select(col("id").cast("long").as("query_id"),
        quantize(col("v"), 1).as("qv")))

  /** Reference for `KnnJoin.rankPairs`: the exact-L2 tail spelled out
    * op by op. */
  private def l2Tail(cand: DataFrame, k: Int): DataFrame =
    TopK.perGroup(cand.select(col("query_id"), col("neighbor_id"),
        intL2Sq(col("gv"), col("qv")).cast("double").as("d2")),
      "query_id", "neighbor_id", "d2", k, ascending = true)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        distFromIntSq(col("d2"), 1).as("dist"))

  /** `pre`: L2 through `knnL2Pre` on the integer vectors as they are. */
  private def knn(metric: KnnMetric, gallery: DataFrame, queries: DataFrame,
                  k: Int, scale: Int = 1, pre: Boolean = false): DataFrame = {
    val f = metric match {
      case KnnMetric.L2 if pre => KnnJoin.knnL2Pre _
      case KnnMetric.L2 => KnnJoin.knnL2 _
      case KnnMetric.Dot => KnnJoin.knnDot _
      case KnnMetric.Cosine => KnnJoin.knnCosine _
    }
    f(gallery, queries, "id", "v", "id", k, scale)
  }

  /** Rows in a canonical order; scores by bit pattern, so NaN == NaN. */
  private def rowsOf(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      java.lang.Double.doubleToLongBits(r.getDouble(3)))).sorted

  private val metrics = Seq(KnnMetric.L2, KnnMetric.Dot, KnnMetric.Cosine)

  private type Values = scala.util.Random => Double
  /** Tie-heavy integers in [-3, 3]. */
  private val smallInts: Values = r => (r.nextInt(7) - 3).toDouble
  /** perfbench's shape: Gaussians around a few centres, about ±5·10⁴
    * once quantized at `DefaultScale`, far inside the double path's
    * bound (64 · 5·10⁴ · 5·10⁴ ≪ 2⁵³). */
  private val clustered: Values = r => (r.nextInt(4) - 1.5) * 1.5 + r.nextGaussian()
  /** Integers up to about 2³¹: D · max|g| · max|q| > 2⁵³, so every block
    * is scored in long arithmetic, and squares of differences overflow. */
  private val wide: Values = r => ((r.nextInt(9) - 4) * (1L << 29) + r.nextInt(1000)).toDouble

  /** Tie-heavy vectors: duplicates, one null vector, one null id, one
    * zero vector. */
  private def knnGallery(seed: Int, n: Int, dim: Int,
                         value: Values = smallInts): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val base = (0 until n).map { i =>
      (Option(i.toLong * 3 + 1), Option(Seq.fill(dim)(value(rnd))))
    }
    val dups = base.take(n / 5).map { case (id, v) => (id.map(_ + 1), v) }
    val odd = Seq((Option(-5L), None), (None, Option(Seq.fill(dim)(1.0))),
      (Option(-7L), Option(Seq.fill(dim)(0.0))))
    rnd.shuffle(base ++ dups ++ odd).toDF("id", "v")
  }

  private def knnQueries(seed: Int, n: Int, dim: Int,
                         value: Values = smallInts): DataFrame = {
    val rnd = new scala.util.Random(seed)
    ((0 until n).map(i => (1000L + i, Option(Seq.fill(dim)(value(rnd))))) ++
      Seq((2000L, Option(Seq.fill(dim)(0.0))), (2001L, None)))
      .toDF("id", "v")
  }

  test("blocked KNN scan == crossjoin + TopK.perGroup for L2, dot and " +
    "cosine: duplicates, null and zero-norm vectors, k > N, many blocks") {
    for ((n, parts) <- Seq((40, 4), (300, 1), (300, 3)); dim <- Seq(1, 5)) {
      val g = knnGallery(n + dim, n, dim).repartition(parts)
      val q = knnQueries(dim, 6, dim)
      for (metric <- metrics; k <- Seq(1, 3, 1000)) {
        val got = rowsOf(knn(metric, g, q, k))
        assert(got === rowsOf(crossjoinKnn(metric, g, q, k)),
          s"n=$n parts=$parts dim=$dim $metric k=$k")
        if (metric == KnnMetric.L2)
          assert(rowsOf(KnnJoin.rankPairs(pairs(g, q), k, 1)) === got,
            s"rankPairs n=$n parts=$parts dim=$dim k=$k")
        if (k == 1000) // every non-null gallery row, for each scored query
          assert(got.size === 7 * (n + n / 5 + 1), s"$metric n=$n")
      }
    }
  }

  test("blocked KNN scan: an empty query set and empty gallery " +
    "partitions give the crossjoin's rows") {
    val g = knnGallery(3, 12, 4)
    val q = knnQueries(4, 3, 4)
    for (metric <- metrics) {
      assert(knn(metric, g, q.filter(lit(false)), 3).count() === 0)
      // 32 partitions over 15 rows: most partitions are empty
      val sparse = g.repartition(32)
      assert(rowsOf(knn(metric, sparse, q, 4)) ===
        rowsOf(crossjoinKnn(metric, sparse, q, 4)), s"$metric")
      // a gallery with no rows at all
      assert(knn(metric, g.filter(lit(false)), q, 4).count() === 0)
    }
  }

  test("blocked KNN scan rows are invariant under gallery row order, " +
    "repartition(1/4/32) and AQE off") {
    val g = knnGallery(5, 80, 6)
    val q = knnQueries(6, 5, 6)
    val shuffled = g.orderBy(rand(17))
    for (metric <- metrics) {
      val expected = rowsOf(crossjoinKnn(metric, g, q, 5))
      for (parts <- Seq(1, 4, 32)) {
        assert(rowsOf(knn(metric, shuffled.repartition(parts), q, 5)) ===
          expected, s"$metric parts=$parts")
        withConf("spark.sql.adaptive.enabled" -> "false") {
          assert(rowsOf(knn(metric, g.repartition(parts), q, 5)) ===
            expected, s"$metric parts=$parts AQE off")
          if (metric == KnnMetric.L2)
            assert(rowsOf(KnnJoin.rankPairs(
              pairs(shuffled, q).repartition(parts), 5, 1)) === expected,
              s"rankPairs parts=$parts AQE off")
        }
      }
    }
  }

  /** The scan's (pairs scored, blocks scored in long arithmetic) in the
    * last execution of `df`. */
  private def scanCounts(df: DataFrame): (Long, Long) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    val scans = nodes(df.queryExecution.executedPlan).collect { case s: KnnScanExec => s }
    assert(scans.size === 1)
    (scans.head.metrics("numPairsScored").value, scans.head.metrics("numLongBlocks").value)
  }

  test("blocked KNN scan == crossjoin at perfbench magnitudes (double " +
    "path) and at about ±2³¹ through knnL2Pre (long path), under " +
    "repartition(1/4/32) and AQE off") {
    val (n, nq, dim) = (300, 9, 64)
    // live rows: n, n / 5 duplicates and the zero vector; queries: nq and
    // the zero vector
    val pairs = (n + n / 5 + 1).toLong * (nq + 1)
    for ((value, scale, pre) <- Seq((clustered, DefaultScale, false), (wide, 1, true))) {
      val asLongs = (df: DataFrame) =>
        if (pre) df.withColumn("v", col("v").cast("array<bigint>")) else df
      val g = asLongs(knnGallery(n, n, dim, value))
      val q = asLongs(knnQueries(nq, nq, dim, value))
      for (metric <- metrics) {
        val expected = rowsOf(crossjoinKnn(metric, g, q, 5, scale))
        for (parts <- Seq(1, 4, 32); aqe <- Seq("true", "false"))
          withConf("spark.sql.adaptive.enabled" -> aqe) {
            val run = knn(metric, g.repartition(parts), q, 5, scale, pre)
            val clue = s"$metric scale=$scale parts=$parts AQE=$aqe"
            assert(rowsOf(run) === expected, clue)
            val (scored, longBlocks) = scanCounts(run)
            assert(scored === pairs, clue)
            if (pre) assert(longBlocks > 0, clue) else assert(longBlocks === 0, clue)
          }
      }
    }
  }

  /** Rows in a canonical order with a nullable query id. */
  private def rowsWithNullIds(df: DataFrame): Seq[(Option[Long], Long, Long, Long)] =
    df.collect().toSeq.map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
      r.getLong(1), r.getLong(2),
      java.lang.Double.doubleToLongBits(r.getDouble(3)))).sorted

  test("KnnJoin.rankPairs == the hand-rolled exact-L2 tail on routed " +
    "candidates: ties, k above a query's candidate count, NULL vectors " +
    "and ids, repartition(1/4/32), AQE off") {
    val dim = 4
    val g = knnGallery(21, 60, dim)
    val q = knnQueries(22, 7, dim).unionByName(
      Seq((Option.empty[Long], Option(Seq.fill(dim)(1.0)))).toDF("id", "v"))
    // a routing join's candidate subset: each query sees a different
    // share of the gallery, query 1000 only ids ≡ 0 (mod 4), 18 of them
    // with a vector; a NULL id on either side routes like id 0
    val cand = pairs(g, q).filter(pmod(coalesce(col("neighbor_id"), lit(0L)), lit(4L)) <=
      pmod(coalesce(col("query_id"), lit(0L)), lit(4L)))
    for (k <- Seq(1, 3, 1000)) {
      val expected = rowsWithNullIds(l2Tail(cand, k))
      if (k == 1000) assert(expected.count(_._1.contains(1000L)) === 18)
      assert(expected.exists(_._1.isEmpty))
      for (parts <- Seq(1, 4, 32); aqe <- Seq("true", "false"))
        withConf("spark.sql.adaptive.enabled" -> aqe) {
          assert(rowsWithNullIds(KnnJoin.rankPairs(cand.repartition(parts), k, 1)) ===
            expected, s"k=$k parts=$parts AQE=$aqe")
        }
    }
  }
}
