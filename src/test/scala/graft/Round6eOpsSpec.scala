package graft

import graft.queries.Queries
import org.apache.spark.sql.functions._

/** Invariant specs for the round-6e batch: KNN-graph degree histogram
  * (v52), LSH MRR (v53), graph label purity (v54), Simpson diversity
  * (t25), duplicate-trigram fraction (t26), bounce rate (e26), peak
  * concurrency (e27), manifest integrity (m10), dedup yield (p7).
  * Exact value parity is covered by the DuckDB oracle gate; these
  * assert the semantic properties the oracle can't name.
  */
class Round6eOpsSpec extends SparkSpec {
  import spark.implicits._

  test("v52: histogram partitions the gallery; edge mass equals the " +
    "v28 edge count") {
    val hist = Queries.v52GraphDegree(spark, sf).collect()
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(hist.map(_.getAs[Long]("n_nodes")).sum == nVecs)
    val edgeMass = hist.map(r =>
      r.getAs[Long]("in_degree") * r.getAs[Long]("n_nodes")).sum
    assert(edgeMass == Queries.v28KnnGraph(spark, sf).count())
    assert(hist.map(_.getAs[Long]("in_degree")).distinct.length ==
      hist.length)
  }

  test("v53: one row per query; rr is exactly 1/found_rank (0 when " +
    "missed) and found_rank stays within the LSH top-5") {
    val out = Queries.v53LshMrr(spark, sf).collect()
    val nQueries = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" % 100 === 0).count()
    assert(out.length == nQueries)
    out.foreach { r =>
      val fr = r.getAs[Long]("found_rank")
      val rr = r.getAs[Double]("rr")
      assert(fr >= 0 && fr <= 5)
      if (fr == 0) assert(rr == 0.0) else assert(rr == 1.0 / fr)
    }
  }

  test("v54: purity in [0,1], n_same <= n_edges, and edge totals " +
    "partition the v28 edge list") {
    val out = Queries.v54KnnPurity(spark, sf).collect()
    out.foreach { r =>
      val same = r.getAs[Long]("n_same"); val all = r.getAs[Long]("n_edges")
      assert(same >= 0 && same <= all)
      val p = r.getAs[Double]("purity")
      assert(p >= 0.0 && p <= 1.0 && p == same.toDouble / all)
    }
    assert(out.map(_.getAs[Long]("n_edges")).sum ==
      Queries.v28KnnGraph(spark, sf).count())
  }

  test("t25: vocab/token/repeat-pair counts replay exactly from the " +
    "corpus; simpson in [0,1]") {
    val bynSrc = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source".as[String], $"text".as[String]).collect()
      .filter(_._2 != null)
      .groupBy(_._1)
      .map { case (src, rows) =>
        val counts = rows.flatMap(_._2.split(" ", -1))
          .groupBy(identity).map(_._2.length.toLong)
        val t = counts.sum
        (src, (counts.size.toLong, t, counts.map(c => c * (c - 1)).sum))
      }
    val out = Queries.t25Simpson(spark, sf).collect()
    assert(out.length == bynSrc.size)
    out.foreach { r =>
      val (vocab, t, rep) = bynSrc(r.getAs[String]("source"))
      assert(r.getAs[Long]("vocab") == vocab)
      assert(r.getAs[Long]("n_tok") == t)
      assert(r.getAs[Long]("rep_pairs") == rep)
      val s = r.getAs[Double]("simpson")
      assert(s >= 0.0 && s <= 1.0)
    }
  }

  test("t26: per-doc trigram counts replay exactly; dup_frac in [0,1)") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id".as[Long], $"text".as[String]).collect().toMap
    Queries.t26DupNgrams(spark, sf).collect().foreach { r =>
      val toks = Option(texts(r.getAs[Long]("doc_id"))).getOrElse("")
        .split(" ", -1)
      val tris = toks.sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSeq
      assert(r.getAs[Long]("n_tri") == tris.length)
      assert(r.getAs[Long]("n_uniq") == tris.distinct.length)
      val f = r.getAs[Double]("dup_frac")
      assert(f >= 0.0 && f < 1.0)
    }
  }

  test("e26: bounces never exceed sessions and day totals match e2's " +
    "session count") {
    val out = Queries.e26BounceRate(spark, sf).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("n_bounce") <= r.getAs[Long]("n_sessions"))
    }
    val e2Total = Queries.e2Sessionize(spark, sf)
      .agg(sum("n_sessions")).as[Long].collect().head
    assert(out.map(_.getAs[Long]("n_sessions")).sum == e2Total)
  }

  test("e27: the per-day peaks replay exactly from a Scala sweep-line " +
    "over the session intervals") {
    // rebuild sessions exactly as the operator contract defines them
    val us = graft.sources.Tables.events(spark, sf)
      .select($"user_id".cast("long"), $"event_id".cast("long"),
        $"ts".cast("long")).as[(Long, Long, Long)].collect()
      .map { case (u, e, ns) => (u, e, Math.floorDiv(ns, 1000L)) }
    val sessions = us.groupBy(_._1).values.flatMap { rows =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      val bounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var s = sorted.head._3; var e = sorted.head._3
      sorted.tail.foreach { r =>
        if (r._3 - e > 1800000000L) { bounds += ((s, e)); s = r._3 }
        e = r._3
      }
      bounds += ((s, e)); bounds
    }.toSeq
    val net = (sessions.map(b => (b._1, 1L)) ++
        sessions.map(b => (b._2 + 1, -1L)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    var cum = 0L
    val peaks = scala.collection.mutable.Map.empty[Long, Long]
    net.foreach { case (t, d) =>
      cum += d
      val day = Math.floorDiv(t, 86400000000L) * 86400L
      peaks(day) = math.max(peaks.getOrElse(day, Long.MinValue), cum)
    }
    val out = Queries.e27PeakConcurrent(spark, sf).collect()
    assert(out.length == peaks.size)
    out.foreach { r =>
      assert(r.getAs[Long]("peak_concurrent") ==
        peaks(r.getAs[Long]("day_epoch")))
    }
  }

  test("m10: statuses partition both tables (doc-side and vec-side " +
    "identities hold)") {
    val out = Queries.m10Integrity(spark, sf).collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n")).toMap
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    def g(k: String) = out.getOrElse(k, 0L)
    assert(g("paired") + g("quality_reject") + g("unvectorized") == nDocs)
    assert(g("paired") + g("quality_reject") + g("orphan_vector") == nVecs)
  }

  test("v55: scan fraction is monotone in nprobe, bounded by 1, and " +
    "nprobe=4 of a 10-list index scans less than half on average " +
    "only if lists are uneven — exact mass checks instead") {
    val out = Queries.v55ScanFraction(spark, sf).collect()
      .sortBy(_.getAs[Long]("nprobe"))
    assert(out.map(_.getAs[Long]("nprobe")).toSeq == Seq(1L, 2L, 4L))
    val fracs = out.map(_.getAs[Double]("scan_frac"))
    assert(fracs.sliding(2).forall(w => w(0) <= w(1)))
    out.foreach { r =>
      assert(r.getAs[Double]("scan_frac") > 0.0 &&
        r.getAs[Double]("scan_frac") <= 1.0)
      assert(r.getAs[Long]("total_scanned") <=
        r.getAs[Long]("n_queries") * r.getAs[Long]("n_gallery"))
    }
  }

  test("v56: composite recall never exceeds the IVF-only recall at " +
    "the same probe set's upper bound of 1 and matches n_hit/k") {
    Queries.v56IvfpqRecall(spark, sf).collect().foreach { r =>
      val hit = r.getAs[Long]("n_hit")
      assert(hit >= 0 && hit <= 5)
      assert(r.getAs[Double]("recall_at_5") == hit / 5.0)
    }
  }

  test("t27: counts replay exactly from the raw text; ratios bounded") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id".as[Long], $"text".as[String]).collect().toMap
    Queries.t27PunctProfile(spark, sf).collect().foreach { r =>
      val t = Option(texts(r.getAs[Long]("doc_id"))).getOrElse("")
      assert(r.getAs[Long]("n_chars") == t.length)
      assert(r.getAs[Long]("n_punct") == t.count(".!?".contains(_)))
      assert(r.getAs[Long]("n_upper") == t.count(c => c >= 'A' && c <= 'Z'))
      assert(r.getAs[Long]("n_digit") == t.count(c => c >= '0' && c <= '9'))
      assert(r.getAs[Double]("punct_ratio") >= 0.0 &&
        r.getAs[Double]("punct_ratio") <= 1.0)
    }
  }

  test("e28: transition edge counts reconcile with e15's count matrix") {
    val lat = Queries.e28TransitionLatency(spark, sf).collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type"))
        -> r.getAs[Long]("n")).toMap
    val cnt = Queries.e15Transitions(spark, sf).collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type"))
        -> r.getAs[Long]("n")).toMap
    assert(lat == cnt)
    Queries.e28TransitionLatency(spark, sf).collect().foreach { r =>
      assert(r.getAs[Double]("mean_gap_us") >= 0.0)
      assert(r.getAs[Double]("mean_gap_us") <=
        r.getAs[Long]("max_gap_us").toDouble)
    }
  }

  test("m11: per-source byte totals and shard counts reconcile with " +
    "m3's packing; imbalance respects the Cauchy-Schwarz bound") {
    val m3 = Queries.m3ShardAssign(spark, sf).collect()
      .groupBy(_.getAs[String]("source"))
    Queries.m11ShardBalance(spark, sf).collect().foreach { r =>
      val shards = m3(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_shards") == shards.length)
      assert(r.getAs[Long]("total_bytes") ==
        shards.map(_.getAs[Long]("shard_bytes")).sum)
      assert(r.getAs[Double]("imbalance") >= 1.0)
    }
  }

  test("v57: the walk replays exactly in Scala (3 greedy steps from " +
    "the min-id entry) and descent is monotone") {
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id".cast("long"),
        graft.functions.VectorFunctions.quantize($"embedding"))
      .as[(Long, Seq[Long])].collect().toMap.map { case (k, v) =>
        k -> v.toArray }
    val edges = Queries.v28KnnGraph(spark, sf)
      .select($"src_id".as[Long], $"dst_id".as[Long]).collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    val entry = vecs.keys.min
    val out = Queries.v57GraphSearch(spark, sf).collect()
    val queries = vecs.keys.filter(_ % 100 == 0)
    assert(out.length == queries.size)
    out.foreach { r =>
      val qid = r.getAs[Long]("query_id")
      val qv = vecs(qid)
      var cur = entry
      for (_ <- 1 to 3) {
        val cand = cur +: edges.getOrElse(cur, Seq.empty)
        cur = cand.minBy(n => (d2(vecs(n), qv), n))
      }
      assert(r.getAs[Long]("node_id") == cur)
      assert(d2(vecs(cur), qv) <= d2(vecs(entry), qv))
      assert(r.getAs[Double]("dist") ==
        math.sqrt(d2(vecs(cur), qv).toDouble) / 10000.0)
    }
  }

  test("e29: lifecycle classes partition each week's actives; new " +
    "users sum to the user base; churn closes the ledger on " +
    "contiguous weeks") {
    val out = Queries.e29Lifecycle(spark, sf).collect()
      .sortBy(_.getAs[Long]("week_epoch"))
    out.foreach { r =>
      assert(r.getAs[Long]("n_new") + r.getAs[Long]("n_retained") +
        r.getAs[Long]("n_resurrected") == r.getAs[Long]("n_active"))
    }
    val nUsers = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").distinct().count()
    assert(out.map(_.getAs[Long]("n_new")).sum == nUsers)
    out.sliding(2).foreach {
      case Array(a, b)
          if b.getAs[Long]("week_epoch") ==
            a.getAs[Long]("week_epoch") + 604800 =>
        assert(b.getAs[Long]("n_churned") ==
          a.getAs[Long]("n_active") - b.getAs[Long]("n_retained"))
      case _ => ()
    }
  }

  test("q35: growth replays exactly from the recovered cents; first " +
    "year of each nation reports 0.0") {
    val out = Queries.q35NationYoy(spark, sf).collect()
      .groupBy(_.getAs[String]("n_name"))
    out.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("year"))
      assert(sorted.head.getAs[Double]("yoy_growth") == 0.0)
      sorted.sliding(2).foreach {
        case Array(a, b)
            if b.getAs[Long]("year") == a.getAs[Long]("year") + 1 =>
          val pc = Math.round(a.getAs[Double]("revenue") * 10000)
          val cc = Math.round(b.getAs[Double]("revenue") * 10000)
          assert(b.getAs[Double]("yoy_growth") == (cc - pc).toDouble / pc)
        case _ => ()
      }
    }
  }

  test("q36: every reported pair's support replays exactly from the " +
    "raw lineitems and the ranking is the true top-10") {
    val orders = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey".as[Long], $"l_partkey".as[Long]).collect()
      .distinct.groupBy(_._1).values.map(_.map(_._2).sorted).toSeq
    val support = scala.collection.mutable.Map.empty[(Long, Long), Long]
    orders.foreach { parts =>
      for (i <- parts.indices; k <- i + 1 until parts.length)
        if (parts(i) != parts(k)) {
          val key = (parts(i), parts(k))
          support(key) = support.getOrElse(key, 0L) + 1L
        }
    }
    val expected = support.toSeq
      .sortBy { case ((a, b), n) => (-n, a, b) }.take(10)
    val out = Queries.q36BasketPairs(spark, sf).collect()
      .sortBy(_.getAs[Long]("rnk"))
    assert(out.length == math.min(10, support.size))
    out.zip(expected).foreach { case (r, ((a, b), n)) =>
      assert(r.getAs[Long]("part_a") == a)
      assert(r.getAs[Long]("part_b") == b)
      assert(r.getAs[Long]("n_orders") == n)
    }
  }

  test("t28: the CMS over-estimate guarantee holds and the queried " +
    "tokens are the true top-10") {
    val counts = spark.read.parquet(s"$sf/documents.parquet")
      .select($"text".as[String]).collect().filter(_ != null)
      .flatMap(_.split(" ", -1)).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val expected = counts.toSeq.sortBy { case (t, n) => (-n, t) }.take(10)
    val out = Queries.t28CmsEstimate(spark, sf).collect()
      .sortBy(_.getAs[Long]("rnk"))
    assert(out.length == 10)
    out.zip(expected).foreach { case (r, (t, n)) =>
      assert(r.getAs[String]("token") == t)
      assert(r.getAs[Long]("true_n") == n)
      assert(r.getAs[Long]("est_n") >= n)
    }
  }

  test("v58: every returned neighbor satisfies the filter predicate " +
    "and per-query ranks are dense from 1") {
    val keep = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter($"label" % 3 === 0).select($"vec_id".as[Long]).collect().toSet
    val out = Queries.v58FilteredIvf(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(keep(r.getAs[Long]("neighbor_id"))))
    out.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val rnks = rows.map(_.getAs[Long]("rnk")).sorted
      assert(rnks.toSeq == (1L to rnks.length))
    }
  }

  test("t29: cosines replay exactly from raw term counts and sit in " +
    "(0, 1]") {
    val counts = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source".as[String], $"text".as[String]).collect()
      .filter(_._2 != null).groupBy(_._1)
      .view.mapValues(_.flatMap(_._2.split(" ", -1))
        .groupBy(identity).view.mapValues(_.length.toLong).toMap).toMap
    Queries.t29TfCosine(spark, sf).collect().foreach { r =>
      val a = counts(r.getAs[String]("a_source"))
      val b = counts(r.getAs[String]("b_source"))
      val num = a.keySet.intersect(b.keySet).toSeq
        .map(t => a(t) * b(t)).sum
      val na2 = a.values.map(c => c * c).sum
      val nb2 = b.values.map(c => c * c).sum
      assert(r.getAs[Long]("num") == num)
      assert(r.getAs[Long]("na2") == na2)
      assert(r.getAs[Long]("nb2") == nb2)
      val cos = r.getAs[Double]("cosine")
      assert(cos == num / math.sqrt(na2.toDouble * nb2.toDouble))
      assert(cos > 0.0 && cos <= 1.0)
    }
  }

  test("p8: the manifest is exactly keepers ∩ Gopher-keep") {
    val keepers = Queries.d19RepPick(spark, sf)
      .select($"keep_id".as[Long]).collect().toSet
    val gopher = Queries.t12GopherQuality(spark, sf)
      .filter($"keep" === 1L).select($"doc_id".as[Long]).collect().toSet
    val manifest = Queries.p8FinalManifest(spark, sf)
      .select($"doc_id".as[Long]).collect().toSet
    assert(manifest == keepers.intersect(gopher))
  }

  test("v59/v60: recall rows are one per query with n_hit ≤ k and " +
    "recall = n_hit/k") {
    Seq(Queries.v59FilteredRecall(spark, sf) -> "recall_at_3",
      Queries.v60Sq8Recall(spark, sf) -> "recall_at_5").foreach {
      case (df, c) =>
        val out = df.collect()
        val nQ = spark.read.parquet(s"$sf/embeddings.parquet")
          .filter($"vec_id" % 100 === 0).count()
        assert(out.length == nQ)
        out.foreach { r =>
          val hit = r.getAs[Long]("n_hit"); val k = r.getAs[Long]("k")
          assert(hit >= 0 && hit <= k)
          assert(r.getAs[Double](c) == hit.toDouble / k)
        }
    }
  }

  test("e31: session totals reconcile with e26's day frame and " +
    "converted never exceeds sessions") {
    val conv = Queries.e31SessionConversion(spark, sf).collect()
      .map(r => r.getAs[Long]("day_epoch") ->
        (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_converted"))).toMap
    val bounce = Queries.e26BounceRate(spark, sf).collect()
      .map(r => r.getAs[Long]("day_epoch") ->
        r.getAs[Long]("n_sessions")).toMap
    assert(conv.view.mapValues(_._1).toMap == bounce)
    conv.values.foreach { case (n, c) => assert(c >= 0 && c <= n) }
  }

  test("v61: the endpoint agrees with v57 and the rank flag is " +
    "consistent with v1's exact list") {
    val walk = Queries.v57GraphSearch(spark, sf).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("node_id"))
      .toMap
    val exact = Queries.v1KnnL2(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
        -> r.getAs[Long]("rnk")).toMap
    val out = Queries.v61GraphRecall(spark, sf).collect()
    assert(out.length == walk.size)
    out.foreach { r =>
      val q = r.getAs[Long]("query_id")
      assert(r.getAs[Long]("node_id") == walk(q))
      val rk = exact.get((q, walk(q)))
      assert(r.getAs[Long]("exact_rank") == rk.getOrElse(0L))
      assert(r.getAs[Long]("in_top5") == (if (rk.isDefined) 1L else 0L))
    }
  }

  test("d23: every admitted pair replays exactly and the cross-split " +
    "d2 pairs are all found (base-only guard is at least as permissive)") {
    def sh3(t: String): Set[String] = {
      val toks = t.split(" ", -1)
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id".as[Long], $"text".as[String]).collect()
      .filter(_._2 != null).toMap
    val out = Queries.d23IncrementalNeardup(spark, sf).collect()
    assert(out.nonEmpty)
    val found = out.map { r =>
      val b = r.getAs[Long]("batch_id"); val a = r.getAs[Long]("base_id")
      assert(b % 4 == 0 && a % 4 != 0)
      val (sa, sb) = (sh3(texts(a)), sh3(texts(b)))
      val inter = (sa & sb).size.toLong
      val uni = sa.size + sb.size - inter
      assert(r.getAs[Long]("inter") == inter)
      assert(r.getAs[Long]("uni") == uni)
      assert(r.getAs[Double]("jaccard") == inter.toDouble / uni)
      Set(a, b)
    }.toSet
    val d2cross = Queries.d2MinhashPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .filter { case (a, b) => (a % 4 == 0) != (b % 4 == 0) }
      .map { case (a, b) => Set(a, b) }.toSet
    assert(d2cross.subsetOf(found))
  }

  test("v62: no tombstoned id surfaces, ranks are dense, and every " +
    "surviving v1 hit can only move up") {
    val out = Queries.v62TombstoneSearch(spark, sf).collect()
    out.foreach(r => assert(r.getAs[Long]("neighbor_id") % 7 != 0))
    out.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq ==
        (1L to rows.length))
    }
    val v1 = Queries.v1KnnL2(spark, sf).collect()
      .filter(_.getAs[Long]("neighbor_id") % 7 != 0)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
        -> r.getAs[Long]("rnk")).toMap
    val v62 = out.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
        -> r.getAs[Long]("rnk")).toMap
    v1.foreach { case (k, rnk1) =>
      assert(v62.contains(k) && v62(k) <= rnk1)
    }
  }

  test("m13: offsets live in [0, 8192) and the per-shard rollup " +
    "reconciles with m3") {
    val idx = Queries.m13TarIndex(spark, sf).collect()
    idx.foreach { r =>
      val o = r.getAs[Long]("offset")
      assert(o >= 0 && o < 8192)
    }
    val rolled = idx.groupBy(r =>
        (r.getAs[String]("source"), r.getAs[Long]("shard_id")))
      .view.mapValues(rs =>
        (rs.length.toLong, rs.map(_.getAs[Long]("n_bytes")).sum)).toMap
    val m3 = Queries.m3ShardAssign(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("shard_id"))
        -> (r.getAs[Long]("n_assets"), r.getAs[Long]("shard_bytes"))).toMap
    assert(rolled == m3)
  }

  test("v63: rrf replays from the component ranks and the query " +
    "never retrieves itself (vec rank is computed after the self " +
    "filter, so no corpus premise is required)") {
    val out = Queries.v63HybridRrf(spark, sf).collect()
    out.groupBy(_.getAs[Long]("query_id")).values
      .foreach(rows => assert(rows.length == 5))
    out.foreach { r =>
      assert(r.getAs[Long]("doc_id") != r.getAs[Long]("query_id"))
      val vr = r.getAs[Long]("vec_rank"); val tr = r.getAs[Long]("text_rank")
      assert(vr >= 0 && vr <= 5 && tr >= 0 && tr <= 5)
      assert(vr > 0 || tr > 0)
      val expected = (if (vr > 0) 1.0 / (60 + vr) else 0.0) +
        (if (tr > 0) 1.0 / (60 + tr) else 0.0)
      assert(r.getAs[Double]("rrf") == expected)
    }
  }

  test("p7: doc totals partition the corpus, keepers count the " +
    "clusters, kept chars never exceed totals") {
    val out = Queries.p7DedupYield(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs)
    val nClusters = Queries.d18ClusterSizes(spark, sf)
      .agg(sum("n_clusters")).as[Long].collect().head
    assert(out.map(_.getAs[Long]("n_kept")).sum == nClusters)
    out.foreach { r =>
      assert(r.getAs[Long]("chars_kept") <= r.getAs[Long]("chars_total"))
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
    }
  }
}
