package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{Event, SessionUpdate}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

case class StreamDoc(doc_id: Long, ts: Timestamp, text: String)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1700000000000L + minutes * 60000L)

  test("enrich attaches static dim rows to a stream per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 2, "view", 2.0))
    val dim = Seq((1L, "gold"), (3L, "silver")).toDF("user_id", "tier")
    val q = StreamingOps.enrich(mem.toDF(), dim, "user_id")
      .select(col("event_id"), col("tier"))
      .writeStream.outputMode("append")
      .format("memory").queryName("enr").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("enr").as[(Long, Option[String])]
        .collect().toMap
      assert(rows === Map(1L -> Some("gold"), 2L -> None))
    } finally q.stop()
  }

  test("ivfServeStream matches batch IvfIndex.search bit-for-bit " +
    "across two micro-batches (persist-once/serve-many under streaming)") {
    implicit val sqlCtx = spark.sqlContext
    val gallery = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding").limit(200)
    val cents = gallery.filter($"vec_id" < 4)
      .select($"vec_id".as("cid"), $"embedding")
    val index = graft.operators.IvfIndex.assign(
      gallery, cents, "vec_id", "embedding", "cid")
    val centArr = cents
      .select($"cid".cast("long"),
        graft.functions.VectorFunctions.quantize($"embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    val qRows = gallery.filter($"vec_id" % 50 === 0)
      .select($"vec_id".cast("long"), $"embedding").as[(Long, Seq[Double])]
      .collect().toSeq
    val mem = MemoryStream[(Long, Seq[Double])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val q = StreamingOps.ivfServeStream(stream, index, centArr,
        "vec_id", "embedding", k = 3, nprobe = 2)
      .writeStream.outputMode("complete")
      .format("memory").queryName("ivf_serve").start()
    try {
      mem.addData(qRows.take(2): _*)
      q.processAllAvailable()
      mem.addData(qRows.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("ivf_serve")
        .as[(Long, Long, Long, Double)].collect().sorted.toSeq
      val batch = graft.operators.IvfIndex.search(index, cents,
          qRows.toDF("vec_id", "embedding"), "vec_id", "embedding",
          "cid", "vec_id", k = 3, nprobe = 2)
        .as[(Long, Long, Long, Double)].collect().sorted.toSeq
      assert(got === batch && got.nonEmpty)
    } finally q.stop()
  }

  test("assetNearDupAdmission: streamed admissions equal the batch " +
    "same-cell verified pairs on the real corpus split (stateless " +
    "stream-static shape)") {
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    def feats(df: org.apache.spark.sql.DataFrame) =
      graft.multimodal.BinaryPipeline.decodeStub(
        graft.multimodal.BinaryPipeline.toAssets(df, "doc_id", "text"))
    val baseCells = StreamingOps.cellIndex(
      feats(docs.filter(col("doc_id") % 4 =!= 0)))
    val batchFeatRows = feats(docs.filter(col("doc_id") % 4 === 0))
      .as[(Long, Seq[Double])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[Double])]
    val stream = mem.toDF().toDF("asset_id", "features")
    val q = StreamingOps.assetNearDupAdmission(stream, baseCells)
      .writeStream.outputMode("append")
      .format("memory").queryName("asset_adm").start()
    try {
      val (h, t) = batchFeatRows.splitAt(batchFeatRows.size / 2)
      mem.addData(h: _*); q.processAllAvailable()
      mem.addData(t: _*); q.processAllAvailable()
      val got = spark.table("asset_adm")
        .as[(Long, Long, Long)].collect().sorted.toSeq
      val expected = StreamingOps.assetNearDupAdmission(
          feats(docs.filter(col("doc_id") % 4 === 0)), baseCells)
        .as[(Long, Long, Long)].collect().sorted.toSeq
      assert(got === expected)
      assert(got.forall(_._3 <= 250000L))
    } finally q.stop()
  }

  test("knnStream matches the batch KNN bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val gallery = Seq(
      (10L, Seq(0.0, 0.0)), (11L, Seq(1.0, 0.0)), (12L, Seq(0.0, 1.0)),
      (13L, Seq(2.0, 2.0)), (14L, Seq(0.5, 0.5))
    ).toDF("vec_id", "embedding")
    val qs = Seq((1L, Seq(0.1, 0.1)), (2L, Seq(1.9, 2.1)))
    val mem = MemoryStream[(Long, Seq[Double])]
    mem.addData(qs: _*)
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val q = StreamingOps.knnStream(stream, gallery,
        "vec_id", "embedding", "vec_id", k = 3)
      .writeStream.outputMode("complete")
      .format("memory").queryName("knn_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("knn_stream")
        .as[(Long, Long, Long, Double)].collect().sorted.toSeq
      val batch = graft.operators.KnnJoin.knnL2(gallery,
          qs.toDF("vec_id", "embedding"), "vec_id", "embedding",
          "vec_id", k = 3)
        .as[(Long, Long, Long, Double)].collect().sorted.toSeq
      assert(got === batch && got.size === 6)
    } finally q.stop()
  }

  test("intervalJoin pairs events within the time bound, per key") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[Event]
    val views = MemoryStream[Event]
    purchases.addData(Event(100, ts(60), 1, "purchase", 0.0),
      Event(101, ts(60), 2, "purchase", 0.0))
    views.addData(
      Event(1, ts(50), 1, "view", 0.0),   // within 15 min of p100? no (10 ok)
      Event(2, ts(58), 1, "view", 0.0),   // within
      Event(3, ts(61), 1, "view", 0.0),   // after purchase → excluded
      Event(4, ts(10), 2, "view", 0.0))   // too early for p101
    val l = purchases.toDF().select(col("user_id").as("lk"),
      col("ts").as("lts"), col("event_id").as("lid"))
    val r = views.toDF().select(col("user_id").as("rk"),
      col("ts").as("rts"), col("event_id").as("rid"))
    val q = StreamingOps.intervalJoin(l, r, deltaSeconds = 900)
      .select(col("lid"), col("rid"))
      .writeStream.outputMode("append")
      .format("memory").queryName("ij").start()
    try {
      q.processAllAvailable()
      val pairs = spark.table("ij").as[(Long, Long)].collect().toSet
      assert(pairs === Set((100L, 1L), (100L, 2L)))
    } finally q.stop()
  }

  test("nearDupAdmission matches the batch d23 pair set on the real " +
    "corpus, split across two micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val all = spark.read.parquet(s"$sf/documents.parquet")
    val base = all.filter($"doc_id" % 4 =!= 0)
    val batchDocs = all.filter($"doc_id" % 4 === 0)
      .select($"doc_id".cast("long"), $"text").as[(Long, String)]
      .collect().filter(_._2 != null)
      .zipWithIndex.map { case ((id, t), i) => StreamDoc(id, ts(i), t) }
    val seenBands = graft.operators.Dedup.bandIndex(base, "doc_id", "text")
    val mem = MemoryStream[StreamDoc]
    val (first, second) = batchDocs.splitAt(batchDocs.length / 2)
    mem.addData(first.toSeq: _*)
    val q = StreamingOps.nearDupAdmission(mem.toDF(), "text", "ts",
        seenBands, base)
      .writeStream.outputMode("append")
      .format("memory").queryName("nda").start()
    try {
      q.processAllAvailable()
      mem.addData(second.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("nda")
        .select($"batch_id", $"base_id", $"inter", $"uni")
        .as[(Long, Long, Long, Long)].collect().toSet
      val expected = graft.queries.Queries
        .d23IncrementalNeardup(spark, sf)
        .select($"batch_id", $"base_id", $"inter", $"uni")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == expected)
      assert(expected.nonEmpty)
    } finally q.stop()
  }

  test("knnStreamTombstone: deleted ids never surface and survivors " +
    "match the batch KNN over the filtered gallery") {
    implicit val sqlCtx = spark.sqlContext
    val gallery = Seq(
      (10L, Seq(0.0, 0.0)), (11L, Seq(1.0, 0.0)), (12L, Seq(0.0, 1.0)),
      (13L, Seq(2.0, 2.0)), (14L, Seq(0.5, 0.5))
    ).toDF("vec_id", "embedding")
    val dead = Seq(Tuple1(11L), Tuple1(13L)).toDF("vec_id")
    val qs = Seq((1L, Seq(0.1, 0.1)), (2L, Seq(1.9, 2.1)))
    val mem = MemoryStream[(Long, Seq[Double])]
    mem.addData(qs: _*)
    val q = StreamingOps.knnStreamTombstone(
        mem.toDF().toDF("vec_id", "embedding"), gallery, dead,
        "vec_id", "embedding", "vec_id", k = 3)
      .writeStream.outputMode("complete")
      .format("memory").queryName("knn_tomb").start()
    try {
      q.processAllAvailable()
      val got = spark.table("knn_tomb")
        .as[(Long, Long, Long, Double)].collect().sorted.toSeq
      assert(got.forall(r => r._3 != 11L && r._3 != 13L))
      val batch = graft.operators.KnnJoin.knnL2(
          gallery.filter(!$"vec_id".isin(11L, 13L)),
          qs.toDF("vec_id", "embedding"), "vec_id", "embedding",
          "vec_id", k = 3)
        .as[(Long, Long, Long, Double)].collect().sorted.toSeq
      assert(got === batch && got.size === 6)
    } finally q.stop()
  }

  test("knnStreamTombstone over the COMPACTED store: continuous " +
    "serving from v95's compacted layout equals the gated v95 rows") {
    implicit val sqlCtx = spark.sqlContext
    // v95's build path ensures the compacted store; its rows are the
    // expected set (compaction is bit-transparent, so the stream twin
    // must reproduce them exactly — the ops-lifecycle twin the batch
    // gate promises)
    val expected = graft.queries.Queries.v95CompactionExec(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSet
    // the store path comes from Queries (not a re-derived string): a
    // path-tag bump there moves this test with it automatically
    val cmp = graft.operators.IvfIndex
      .load(spark, graft.queries.Queries.compactedIvfStorePath(sf))
      .select($"id".as("vec_id"), $"vec".as("embedding"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dead = emb.filter($"vec_id" % 7 === 0)
      .select($"vec_id".cast("long").as("vec_id"))
    val qs = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".cast("long"), $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[Double])]
    mem.addData(qs: _*)
    val q = StreamingOps.knnStreamTombstone(
        mem.toDF().toDF("vec_id", "embedding"), cmp, dead,
        "vec_id", "embedding", "vec_id", k = 5)
      .writeStream.outputMode("complete")
      .format("memory").queryName("knn_cmp").start()
    try {
      q.processAllAvailable()
      val got = spark.table("knn_cmp")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(got == expected && expected.nonEmpty)
    } finally q.stop()
  }

  test("hybridRrfBatch via foreachBatch: union across two micro-" +
    "batches equals the gated v63 rows on the real corpus") {
    implicit val sqlCtx = spark.sqlContext
    val docsDf = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // the static indexes, built exactly as v63 builds them
    val sh = docsDf.select($"doc_id".cast("long").as("doc_id"),
      explode(graft.functions.TextFunctions.shingles($"text", 3)).as("sg"))
    val inv = sh.join(
      sh.groupBy("sg").agg(count(lit(1)).as("df"))
        .filter($"df" <= 100).select("sg"), "sg")
      .select("sg", "doc_id").localCheckpoint()
    val qb = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".cast("long").as("query_id"), $"embedding")
      .join(docsDf.select($"doc_id".cast("long").as("query_id"), $"text"),
        Seq("query_id"), "left")
      .select($"query_id", $"text",
        $"embedding".cast("array<double>").as("embedding"))
      .as[(Long, String, Seq[Double])].collect().toSeq
    val mem = MemoryStream[(Long, String, Seq[Double])]
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double, Long, Long)]
    val (first, second) = qb.splitAt(qb.length / 2)
    mem.addData(first: _*)
    val q = mem.toDF().toDF("query_id", "text", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= StreamingOps.hybridRrfBatch(batch, emb, inv)
            .as[(Long, Long, Long, Double, Long, Long)].collect()
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      mem.addData(second: _*)
      q.processAllAvailable()
      val expected = graft.queries.Queries.v63HybridRrf(spark, sf)
        .as[(Long, Long, Long, Double, Long, Long)].collect().toSet
      assert(buf.toSet == expected)
      assert(expected.nonEmpty)
    } finally q.stop()
  }

  test("dedupServeBatch via foreachBatch: request copies split across " +
    "micro-batches still get exactly the gated v75 rows") {
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".cast("long").as("request_id"),
        $"embedding".cast("array<double>").as("embedding"))
      .as[(Long, Seq[Double])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[Double])]
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double)]
    // first micro-batch: the original requests; second: their copies
    // under shifted request ids — every duplicate pair straddles the
    // batch boundary, the worst case for batch-scoped dedup.
    mem.addData(base: _*)
    val q = mem.toDF().toDF("request_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= StreamingOps.dedupServeBatch(b, emb)
            .as[(Long, Long, Long, Double)].collect()
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      mem.addData(base.map { case (id, v) => (id + 1000000L, v) }: _*)
      q.processAllAvailable()
      val expected = graft.queries.Queries.v75QueryDedupServe(spark, sf)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(buf.toSet == expected && expected.nonEmpty)
    } finally q.stop()
  }

  test("graphUpsertBatch via foreachBatch: an arriving vector batch " +
    "merged into the persisted base edges equals the gated v80 " +
    "(the graph rebuilt on the union corpus)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions.{intL2Sq, quantize}
    import graft.operators.{LshIndex, TopK}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter($"vec_id" % 4 =!= 0)
    val batchRows = emb.filter($"vec_id" % 4 === 0)
      .select($"vec_id".cast("long"),
        $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    // the stored base edge list (WITH distances) — the same
    // bucket-blocked top-3 v80 persists for the base corpus
    val planes = LshIndex.quantizePlanes(
      LshIndex.hyperplanes(dim = 64, nPlanes = 6, seed = 42L))
    val bv = base.select($"vec_id".cast("long").as("id"),
        quantize($"embedding").as("qv"))
      .withColumn("bucket", LshIndex.bucketKeyQ($"qv", planes))
    val baseScored = bv.as("x").join(bv.as("y"),
        $"x.bucket" === $"y.bucket" && $"x.id" =!= $"y.id")
      .select($"x.id".as("src_id"), $"y.id".as("dst_id"),
        intL2Sq($"x.qv", $"y.qv").cast("double").as("d2"))
    val stored = TopK.perGroup(baseScored, "src_id", "dst_id", "d2",
      k = 3, ascending = true).select("src_id", "dst_id", "d2")
    val mem = MemoryStream[(Long, Seq[Double])]
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double)]
    mem.addData(batchRows: _*)
    val q = mem.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= StreamingOps.graphUpsertBatch(b, base, stored)
            .as[(Long, Long, Long, Double)].collect()
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      val expected = graft.queries.Queries.v80GraphUpsert(spark, sf)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(buf.toSet == expected && expected.nonEmpty)
    } finally q.stop()
  }

  test("dedupStream emits each content hash once within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamDoc]
    mem.addData(
      StreamDoc(1, ts(0), "aaa"), StreamDoc(2, ts(1), "bbb"),
      StreamDoc(3, ts(2), "aaa"))
    val q = StreamingOps.dedupStream(mem.toDF(), "text", "ts")
      .writeStream.outputMode("append")
      .format("memory").queryName("dd").start()
    try {
      q.processAllAvailable()
      mem.addData(StreamDoc(4, ts(3), "aaa"), StreamDoc(5, ts(4), "ccc"))
      q.processAllAvailable()
      val rows = spark.table("dd").select($"text").as[String].collect()
      assert(rows.length === 3)               // one per distinct content
      assert(rows.toSet === Set("aaa", "bbb", "ccc"))
    } finally q.stop()
  }

  test("streaming sessionize matches a naive reference on real events") {
    implicit val sqlCtx = spark.sqlContext
    val rows: Seq[Event] = graft.sources.Tables.events(spark, sf)
      .selectExpr("event_id", "ts div 1000000 as ms", "user_id",
        "event_type", "value")
      .as[(Long, Long, Long, String, Double)].collect().toSeq
      .map(r => Event(r._1, new Timestamp(r._2), r._3, r._4, r._5))
    val maxMs = rows.map(_.ts.getTime).max
    // sentinel far past every user's timeout horizon: after the
    // watermark passes it, EVERY real session must have been emitted
    val sentinel = Event(-1L, new Timestamp(maxMs + 10L * 3600 * 1000),
      -999L, "x", 0.0)
    val mem = MemoryStream[Event]
    mem.addData(rows: _*)
    mem.addData(sentinel)
    val q = StreamingOps.sessionize(mem.toDS())
      .writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("sessreal").start()
    try {
      q.awaitTermination(180000)
      val got = spark.table("sessreal").as[SessionUpdate].collect()
        .filter(_.user_id != -999L)
        .groupBy(_.user_id)
        .map { case (u, ss) => u -> ((ss.length.toLong, ss.map(_.n_events).sum)) }
      // naive reference: per user, sort by (ts, id), count gaps > 30 min
      val expected = rows.groupBy(_.user_id).map { case (u, es) =>
        val sorted = es.sortBy(e => (e.ts.getTime, e.event_id))
        val nSess = 1L + sorted.sliding(2).count {
          case Seq(a, b) => b.ts.getTime - a.ts.getTime > 1800000L
          case _ => false
        }
        u -> ((nSess, es.length.toLong))
      }
      assert(got === expected)
    } finally q.stop()
  }

  test("streaming sessionPaths aggregates to the gated batch e33 rows " +
    "exactly on real events (microsecond-exact parity)") {
    implicit val sqlCtx = spark.sqlContext
    val rows: Seq[Event] = graft.sources.Tables.events(spark, sf)
      .selectExpr("event_id", "ts div 1000 as us", "user_id",
        "event_type", "value")
      .as[(Long, Long, Long, String, Double)].collect().toSeq
      .map { r =>
        val t = new Timestamp(r._2 / 1000000 * 1000)
        t.setNanos((r._2 % 1000000).toInt * 1000)
        Event(r._1, t, r._3, r._4, r._5)
      }
    val mem = MemoryStream[Event]
    mem.addData(rows: _*)
    val q = StreamingOps.sessionPaths(mem.toDS())
      .writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("paths").start()
    try {
      q.awaitTermination(180000)
      val got = spark.table("paths")
        .as[StreamingOps.PathHit].collect()
        .groupBy(h => (h.p1, h.p2, h.p3))
        .map { case (k, hs) =>
          k -> ((hs.length.toLong, hs.map(_.user_id).distinct.length.toLong)) }
      val expected = graft.queries.Queries.e33SessionPaths(spark, sf)
        .collect()
        .map(r => (r.getAs[String]("p1"), r.getAs[String]("p2"),
          r.getAs[String]("p3")) ->
          ((r.getAs[Long]("n"), r.getAs[Long]("n_users"))))
        .toMap
      assert(got === expected)
    } finally q.stop()
  }

  test("windowedCounts aggregates tumbling windows over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(70), 2, "view", 3.0))
    val q = StreamingOps.windowedCounts(mem.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("wc").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select(col("event_type"), col("n"), col("sum_value"))
        .as[(String, Long, Double)].collect().toSet
      assert(rows === Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("extractProps parses JSON and aggregates per window/type/decile") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.PropsEvent]
    mem.addData(
      StreamingOps.PropsEvent(ts(0), "click", """{"k": 7}"""),
      StreamingOps.PropsEvent(ts(10), "click", """{"k": 9}"""),
      StreamingOps.PropsEvent(ts(20), "click", """{"k": 25}"""),
      StreamingOps.PropsEvent(ts(30), "view", """{"k": 3}"""))
    val q = StreamingOps.extractProps(mem.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("props").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("props")
        .select(col("event_type"), col("k_bucket"), col("n"), col("sum_k"))
        .as[(String, Long, Long, Long)].collect().toSet
      assert(rows === Set(("click", 0L, 2L, 16L), ("click", 2L, 1L, 25L),
        ("view", 0L, 1L, 3L)))
    } finally q.stop()
  }

  test("sessionize closes sessions by gap and by event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // user 7: two events 10 min apart (one session), then a 2h gap event
    // (second session); user 8's much-later event advances the watermark
    // past user 7's open-session timeout (130 min + 30 min gap), so the
    // final session flushes deterministically on EVENT time.
    mem.addData(
      Event(1, ts(0), 7, "click", 1.0),
      Event(2, ts(10), 7, "click", 1.0),
      Event(3, ts(130), 7, "click", 1.0),
      Event(4, ts(600), 8, "view", 1.0))
    val q = StreamingOps.sessionize(mem.toDS())
      .writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("sess").start()
    try {
      q.awaitTermination(120000)
      val closed = spark.table("sess").as[SessionUpdate].collect().toSet
      // session ids are session-START epoch millis. Session 1 (2
      // events) closed by the in-batch gap; session 2 (1 event) closed
      // by the watermark-driven timeout. User 8's session stays open
      // (watermark never passes its timeout).
      assert(closed === Set(
        SessionUpdate(7, ts(0).getTime, 2),
        SessionUpdate(7, ts(130).getTime, 1)))
    } finally q.stop()
  }

  test("streaks: cross-batch state matches the e18 gaps-and-islands " +
    "semantics") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    def day(d: Long, u: Long, id: Long) =
      Event(id, new Timestamp(d * 86400000L + 3600000L), u, "view", 0.0)
    // user 1: days 10,11,12 then 15,16 → best 3, 5 active, 2 streaks
    // user 2: days 10, 13, 20 → best 1, 3 active, 3 streaks
    // split across micro-batches to exercise state carry-over
    mem.addData(day(10, 1, 1), day(11, 1, 2), day(10, 2, 3))
    val q = StreamingOps.streaks(mem.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("streaks").start()
    try {
      q.processAllAvailable()
      mem.addData(day(12, 1, 4), day(13, 2, 5), day(12, 1, 6)) // dup day
      q.processAllAvailable()
      mem.addData(day(15, 1, 7), day(16, 1, 8), day(20, 2, 9))
      q.processAllAvailable()
      val fin = spark.table("streaks")
        .as[StreamingOps.StreakUpdate].collect()
        .groupBy(_.user_id).map { case (u, rows) =>
          u -> rows.maxBy(_.n_active_days) }
      assert(fin(1L) === StreamingOps.StreakUpdate(1, 3, 5, 2))
      assert(fin(2L) === StreamingOps.StreakUpdate(2, 1, 3, 3))
    } finally q.stop()
  }

  test("firstTouch: attribution state is order-insensitive across " +
    "micro-batches and cents are exact") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // user 7's true first touch (t=5, id=2, "click") arrives in batch 2,
    // AFTER a later event — the argmin must still settle on it
    mem.addData(Event(3, ts(10), 7, "view", 0.0),
      Event(4, ts(20), 7, "purchase", 1.2345))
    val q = StreamingOps.firstTouch(mem.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("touch").start()
    try {
      q.processAllAvailable()
      mem.addData(Event(2, ts(5), 7, "click", 0.0),
        Event(5, ts(30), 7, "purchase", 0.0001))
      q.processAllAvailable()
      val fin = spark.table("touch").as[StreamingOps.TouchUpdate]
        .collect().maxBy(_.n_buys)
      assert(fin === StreamingOps.TouchUpdate(7, "click", 12346L, 2))
    } finally q.stop()
  }

  test("cadence: exact cross-batch gap sums match a replay") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val times = Seq(0L, 7L, 19L, 40L, 100L) // minutes, user 9
    mem.addData(Event(1, ts(times(0)), 9, "view", 0.0),
      Event(2, ts(times(1)), 9, "view", 0.0))
    val q = StreamingOps.cadence(mem.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("cad").start()
    try {
      q.processAllAvailable()
      mem.addData(Event(3, ts(times(2)), 9, "view", 0.0),
        Event(4, ts(times(3)), 9, "view", 0.0),
        Event(5, ts(times(4)), 9, "view", 0.0))
      q.processAllAvailable()
      val fin = spark.table("cad").as[StreamingOps.CadenceUpdate]
        .collect().maxBy(_.n_gaps)
      val us = times.map(m => ts(m).getTime * 1000L)
      val gaps = us.sliding(2).map(w => w(1) - w(0)).toSeq
      assert(fin.n_gaps === gaps.size.toLong)
      assert(fin.sum_gap_us === gaps.sum)
      assert(BigInt(fin.sum_gap2) ===
        gaps.map(g => BigInt(g) * BigInt(g)).sum)
    } finally q.stop()
  }

  test("cohort: a late-arriving earlier week re-bases the cohort and " +
    "shifts every offset (order-insensitive state)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val wk = 7L * 24 * 60 // minutes per week
    // user 11 first seen in weeks {1, 3} relative to the fixed base
    mem.addData(Event(1, ts(1 * wk), 11, "view", 0.0),
      Event(2, ts(3 * wk), 11, "view", 0.0))
    val q = StreamingOps.cohort(mem.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("coh").start()
    try {
      q.processAllAvailable()
      val mid = spark.table("coh").as[StreamingOps.CohortUpdate]
        .collect().last
      val midBase = mid.cohort_wk
      assert(mid.offsets === Seq(0L, 2L))
      // week 0 arrives LATE — cohort must re-base one week earlier
      // and the existing offsets must shift by +1
      mem.addData(Event(3, ts(0), 11, "view", 0.0))
      q.processAllAvailable()
      val fin = spark.table("coh").as[StreamingOps.CohortUpdate]
        .collect().maxBy(_.offsets.size)
      assert(fin.cohort_wk === midBase - 1)
      assert(fin.offsets === Seq(0L, 1L, 3L))
      // final state aggregates to the batch e6 matrix for this user
      val weeks = Seq(0L, 1L, 3L).map(_ + fin.cohort_wk)
      assert(weeks.map(_ - weeks.min) === fin.offsets)
    } finally q.stop()
  }

  test("hllRegisters: streamed registers are bit-equal to the batch " +
    "register table across two micro-batches, and used_registers " +
    "reconciles with the gated e32 output") {
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.sources.Tables.events(spark, sf)
      .select(expr("((ts) - pmod((ts), 86400000000000L)) div " +
        "86400000000000L").as("day"),
        $"user_id".cast("long").as("user_id"))
      .as[(Long, Long)].collect()
    val mem = MemoryStream[(Long, Long)]
    val (first, second) = ev.splitAt(ev.length / 2)
    mem.addData(first.toSeq: _*)
    val q = StreamingOps.hllRegisters(
        mem.toDF().toDF("day", "user_id"), "day", "user_id")
      .writeStream.outputMode("complete")
      .format("memory").queryName("hllreg").start()
    try {
      q.processAllAvailable()
      mem.addData(second.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("hllreg")
        .as[(Long, String, Int)].collect().toSet
      val batch = StreamingOps.hllRegisters(
          ev.toSeq.toDF("day", "user_id"), "day", "user_id")
        .as[(Long, String, Int)].collect().toSet
      assert(got == batch)
      assert(batch.nonEmpty)
      // the register table drives the gated estimate: bucket counts
      // per day must equal e32's published used_registers
      val usedGot = got.groupBy(_._1).map { case (d, rs) => (d, rs.size.toLong) }
      val usedGate = graft.queries.Queries.e32HllDau(spark, sf)
        .filter($"day" >= 0)
        .select($"day", $"used_registers")
        .as[(Long, Long)].collect().toMap
      assert(usedGot == usedGate)
    } finally q.stop()
  }

  test("ivfServeSegments: streaming over two persisted half-index " +
    "segments equals batch search over the compacted index, across " +
    "two micro-batches (the gated v77 under streaming)") {
    implicit val sqlCtx = spark.sqlContext
    val gallery = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding").limit(200)
    val cents = gallery.filter($"vec_id" < 4)
      .select($"vec_id".as("cid"), $"embedding")
    withTempDir("graft_test_seg") { dir =>
      def half(par: Int): String = {
        val path = s"$dir/seg$par"
        graft.operators.IvfIndex.save(graft.operators.IvfIndex.assign(
          gallery.filter($"vec_id" % 2 === par), cents,
          "vec_id", "embedding", "cid"), path)
        path
      }
      val segs = Seq(half(0), half(1))
        .map(graft.operators.IvfIndex.load(spark, _))
      val centArr = cents
        .select($"cid".cast("long"),
          graft.functions.VectorFunctions.quantize($"embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1)
      val qRows = gallery.filter($"vec_id" % 50 === 0)
        .select($"vec_id".cast("long"), $"embedding").as[(Long, Seq[Double])]
        .collect().toSeq
      val mem = MemoryStream[(Long, Seq[Double])]
      val q = StreamingOps.ivfServeSegments(
          mem.toDF().toDF("vec_id", "embedding"), segs, centArr,
          "vec_id", "embedding", k = 3, nprobe = 2)
        .writeStream.outputMode("complete")
        .format("memory").queryName("seg_serve").start()
      try {
        mem.addData(qRows.take(2): _*)
        q.processAllAvailable()
        mem.addData(qRows.drop(2): _*)
        q.processAllAvailable()
        val got = spark.table("seg_serve")
          .as[(Long, Long, Long, Double)].collect().sorted.toSeq
        val compacted = graft.operators.IvfIndex.assign(
          gallery, cents, "vec_id", "embedding", "cid")
        val batch = graft.operators.IvfIndex.search(compacted, cents,
            qRows.toDF("vec_id", "embedding"), "vec_id", "embedding",
            "cid", "vec_id", k = 3, nprobe = 2)
          .as[(Long, Long, Long, Double)].collect().sorted.toSeq
        assert(got === batch && got.nonEmpty)
      } finally q.stop()
    }
  }

  test("routeServeBatch via foreachBatch: queries split across two " +
    "micro-batches union to exactly the gated v76 rows (routes, both " +
    "branches, ranks, distances)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions.{intL2Sq, quantize}
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val sizes = e.groupBy($"label".cast("long").as("lab"))
      .agg(count(lit(1)).as("n_class"))
    val tot = e.agg(count(lit(1)).as("n_total"),
      countDistinct($"label").as("n_classes"))
    val route = sizes.crossJoin(broadcast(tot))
      .select($"lab",
        when($"n_class" * $"n_classes" > $"n_total", lit("ivf"))
          .otherwise(lit("exact")).as("route"))
    val centArr = e.filter($"vec_id" < 10)
      .select($"vec_id".cast("long"), quantize($"embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    val centCands = centArr.toIndexedSeq.map { case (cid, cv) =>
      struct(intL2Sq($"gv", array(cv.map(lit).toIndexedSeq: _*))
        .as("d2"), lit(cid).as("cid"))
    }
    val g = e.select($"vec_id".cast("long").as("neighbor_id"),
        $"label".cast("long").as("glab"),
        quantize($"embedding").as("gv"))
      .withColumn("centroid_id",
        array_min(array(centCands: _*)).getField("cid"))
      .localCheckpoint()
    val qRows = e.filter($"vec_id" % 100 === 0)
      .select($"vec_id".cast("long"), $"label".cast("long"),
        $"embedding".cast("array<double>"))
      .as[(Long, Long, Seq[Double])].collect().toSeq
    val mem = MemoryStream[(Long, Long, Seq[Double])]
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double, String)]
    mem.addData(qRows.take(2): _*)
    val q = mem.toDF().toDF("vec_id", "label", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= StreamingOps.routeServeBatch(b, g, route, centArr)
            .as[(Long, Long, Long, Double, String)].collect()
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      mem.addData(qRows.drop(2): _*)
      q.processAllAvailable()
      val expected = graft.queries.Queries.v76SelectivityRoute(spark, sf)
        .as[(Long, Long, Long, Double, String)].collect().toSet
      assert(buf.toSet == expected && expected.nonEmpty)
      // both routes must actually exercise (the split is the point)
      assert(buf.map(_._5).toSet == Set("exact", "ivf"))
    } finally q.stop()
  }

  test("beamServeBatch via foreachBatch: queries split across micro-" +
    "batches walk the persisted edge store to exactly the gated v79 " +
    "rows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions.quantize
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val vecs = emb.select($"vec_id".cast("long").as("id"),
      quantize($"embedding").as("qv"))
    // the persisted layer-0 graph = the gated v28 edge list
    val edges = graft.queries.Queries.v28KnnGraph(spark, sf)
      .select("src_id", "dst_id")
    val entryId = vecs.agg(org.apache.spark.sql.functions.min("id"))
      .collect()(0).getLong(0)
    val qRows = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".cast("long"), $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[Double])]
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double)]
    mem.addData(qRows.take(2): _*)
    val q = mem.toDF().toDF("query_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= StreamingOps.beamServeBatch(b, vecs, edges, entryId)
            .as[(Long, Long, Long, Double)].collect()
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      mem.addData(qRows.drop(2): _*)
      q.processAllAvailable()
      val expected = graft.queries.Queries.v79BeamSearch(spark, sf)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(buf.toSet == expected && expected.nonEmpty)
    } finally q.stop()
  }

  test("hnswServeBatch via foreachBatch: queries split across micro-" +
    "batches descend the persisted coarse layer then beam to exactly " +
    "the gated v88 rows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions.{intL2Sq, quantize}
    import graft.operators.{LshIndex, Sampling, TopK}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val vecs = emb.select($"vec_id".cast("long").as("id"),
      quantize($"embedding").as("qv"))
    // the persisted layer-0 graph = the gated v28 edge list
    val edges = graft.queries.Queries.v28KnnGraph(spark, sf)
      .select("src_id", "dst_id")
    // the persisted layer-1 graph: the v28 build recipe over the
    // portable-hash-sampled subset (v88's coarse-layer contract)
    val planes = LshIndex.quantizePlanes(
      LshIndex.hyperplanes(dim = 64, nPlanes = 6, seed = 42L))
    val sub = vecs.filter(Sampling.portableHash($"id") % 5 === 0)
      .withColumn("bucket", LshIndex.bucketKeyQ($"qv", planes))
      .localCheckpoint()
    val scoredSub = sub.as("x").join(sub.as("y"),
        $"x.bucket" === $"y.bucket" && $"x.id" =!= $"y.id")
      .select($"x.id".as("src_id"), $"y.id".as("dst_id"),
        intL2Sq($"x.qv", $"y.qv").cast("double").as("d2"))
    val coarseEdges = TopK.perGroup(scoredSub, "src_id", "dst_id", "d2",
      k = 3, ascending = true).select("src_id", "dst_id")
    val coarseEntry = sub.agg(min("id")).collect()(0).getLong(0)
    val subVecs = sub.select("id", "qv")
    val qRows = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".cast("long"), $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[Double])]
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double)]
    mem.addData(qRows.take(2): _*)
    val q = mem.toDF().toDF("query_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= StreamingOps.hnswServeBatch(b, vecs, edges, subVecs,
              coarseEdges, coarseEntry)
            .as[(Long, Long, Long, Double)].collect()
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      mem.addData(qRows.drop(2): _*)
      q.processAllAvailable()
      val expected = graft.queries.Queries.v88HnswEntry(spark, sf)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(buf.toSet == expected && expected.nonEmpty)
    } finally q.stop()
  }

  test("adcServeBatch via foreachBatch: queries split across micro-" +
    "batches score the persisted code table to exactly the gated v11 " +
    "rows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions.quantize
    import graft.operators.PqIndex
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val g = emb.select($"vec_id".cast("long").as("id"),
      org.apache.spark.sql.functions.transform(quantize($"embedding"),
        x => x.cast("double")).as("qemb"))
    val book = PqIndex.seededBook(g, "id", "qemb", 64, 8, 16)
    val codes = PqIndex.encode(g, "id", "qemb", 64, 8, book)
      .localCheckpoint(false)
    val qRows = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".cast("long"), $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[Double])]
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double)]
    mem.addData(qRows.take(2): _*)
    val q = mem.toDF().toDF("query_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= StreamingOps.adcServeBatch(b, codes, book)
            .as[(Long, Long, Long, Double)].collect()
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      mem.addData(qRows.drop(2): _*)
      q.processAllAvailable()
      val expected = graft.queries.Queries.v11PqAdc(spark, sf)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(buf.toSet == expected && expected.nonEmpty)
    } finally q.stop()
  }

  test("ingestCodesBatch via foreachBatch: overlapping vector micro-" +
    "batches accumulate to exactly the full-rebuild code table (v99's " +
    "contract as a continuous ingest job)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions.quantize
    import graft.operators.PqIndex
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val g = emb.select($"vec_id".cast("long").as("id"),
      org.apache.spark.sql.functions.transform(quantize($"embedding"),
        x => x.cast("double")).as("qemb"))
    val book = PqIndex.seededBook(g, "id", "qemb", 64, 8, 16)
    // stored state starts at the base split's codes (v99's base store)
    val base = PqIndex.encode(g.filter($"id" % 4 =!= 0), "id", "qemb",
      64, 8, book).localCheckpoint(false)
    // two arriving batches that OVERLAP each other and the base:
    // ids % 3 == 0 then ids % 2 == 0 (every id still re-delivered
    // somewhere; union covers the id % 4 == 0 remainder)
    val vecs = emb.select($"vec_id".cast("long"),
        $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    val b1 = vecs.filter(_._1 % 3 == 0)
    val b2 = vecs.filter(v => v._1 % 2 == 0 || v._1 % 4 == 0)
    val mem = MemoryStream[(Long, Seq[Double])]
    var acc = base
    val q = mem.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        acc.synchronized {
          val fresh = StreamingOps.ingestCodesBatch(b, acc, book)
            .localCheckpoint() // eager: acc must be stable state
          acc = acc.unionByName(fresh).localCheckpoint()
        }
        ()
      }.start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      // ids 1 mod 4 etc. never arrived as "new" — they were base rows;
      // the accumulated table must equal base ∪ batch-covered ids,
      // each id EXACTLY once, codes identical to a full rebuild
      val covered = vecs.map(_._1).filter(id =>
        id % 4 != 0 || id % 3 == 0 || id % 2 == 0).toSet
      val rebuilt = PqIndex.encode(g, "id", "qemb", 64, 8, book)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList)
        .toMap
      val got = acc.collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toList)
      assert(got.length == covered.size, "an id was double-ingested")
      assert(got.map(_._1).toSet == covered)
      got.foreach { case (id, codes) => assert(codes == rebuilt(id)) }
    } finally q.stop()
  }

  test("graph maintained lifecycle via foreachBatch: interleaved " +
    "vector upserts and re-delivered deletes serve exactly the batch " +
    "v108 rows — the graph family's continuous maintenance loop") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions.{intL2Sq, quantize}
    import graft.operators.{LshIndex, TopK}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter($"vec_id" % 4 =!= 0)
    // the stored base edge list (WITH distances) — v80's persisted
    // pre-stream state for the base corpus
    val planes = LshIndex.quantizePlanes(
      LshIndex.hyperplanes(dim = 64, nPlanes = 6, seed = 42L))
    val bv = base.select($"vec_id".cast("long").as("id"),
        quantize($"embedding").as("qv"))
      .withColumn("bucket", LshIndex.bucketKeyQ($"qv", planes))
    val baseScored = bv.as("x").join(bv.as("y"),
        $"x.bucket" === $"y.bucket" && $"x.id" =!= $"y.id")
      .select($"x.id".as("src_id"), $"y.id".as("dst_id"),
        intL2Sq($"x.qv", $"y.qv").cast("double").as("d2"))
    val stored = TopK.perGroup(baseScored, "src_id", "dst_id", "d2",
        k = 3, ascending = true).select("src_id", "dst_id", "d2")
      .localCheckpoint()
    val vecs = emb.select($"vec_id".cast("long"),
        $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    val batchRows = vecs.filter(_._1 % 4 == 0)
    val deadIds = vecs.map(_._1).filter(_ % 7 == 0)
    // edge state starts at the base graph; the upsert batch folds the
    // merged full-corpus graph in (insert-only contract: one batch)
    var edgesState = stored.select($"src_id", $"dst_id").localCheckpoint()
    var tombs = Seq.empty[Long].toDF("dead_id")
      .select($"dead_id".cast("long").as("dead_id")).localCheckpoint()
    val vecMem = MemoryStream[(Long, Seq[Double])]
    val delMem = MemoryStream[Long]
    val vq = vecMem.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        edgesState.synchronized {
          edgesState = StreamingOps.graphUpsertBatch(b, base, stored)
            .select($"src_id", $"dst_id").localCheckpoint()
        }
        ()
      }.start()
    val dq = delMem.toDF().toDF("dead_id")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        edgesState.synchronized {
          val fresh = StreamingOps.tombstoneBatch(b, tombs)
            .localCheckpoint()
          tombs = tombs.unionByName(fresh).localCheckpoint()
        }
        ()
      }.start()
    try {
      // interleave: half the deletes land BEFORE the vector batch
      // (tombstones for not-yet-upserted ids are legal state), then
      // the upsert, then ALL deletes RE-delivered (idempotency)
      delMem.addData(deadIds.filter(_ % 2 == 0): _*)
      dq.processAllAvailable()
      vecMem.addData(batchRows: _*)
      vq.processAllAvailable()
      delMem.addData(deadIds: _*)
      dq.processAllAvailable()
      assert(tombs.count() == deadIds.size.toLong,
        "a re-delivered delete was double-recorded")
      val vAll = emb.select($"vec_id".cast("long").as("id"),
        quantize($"embedding").as("qv"))
      val entryId = vecs.map(_._1).filterNot(deadIds.toSet).min
      // queries split across two serve batches — unions to v108
      val qAll = emb.filter($"vec_id" % 100 === 0)
        .select($"vec_id".cast("long").as("query_id"), $"embedding")
      val served = (StreamingOps.tombBeamServeBatch(
          qAll.filter($"query_id" % 200 === 0), vAll, edgesState,
          tombs, entryId)
          .as[(Long, Long, Long, Double)].collect() ++
        StreamingOps.tombBeamServeBatch(
          qAll.filter($"query_id" % 200 =!= 0), vAll, edgesState,
          tombs, entryId)
          .as[(Long, Long, Long, Double)].collect()).toSet
      val expected = graft.queries.Queries
        .v108GraphTombstoneSearch(spark, sf)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(served == expected && expected.nonEmpty)
    } finally { vq.stop(); dq.stop() }
  }

  test("maintained lifecycle via foreachBatch: interleaved ingest and " +
    "delete micro-batches (deletes re-delivered) serve exactly the " +
    "batch v106 rows — the continuous twin of the maintenance chain") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.PqIndex
    // the SAME trained book + base split the batch lifecycle uses
    val (_, book, gd) = graft.queries.Queries.upsertedPqCodes(spark, sf)
    val base = PqIndex.encode(gd.filter($"id" % 4 =!= 0), "id", "qemb",
      64, 8, book).localCheckpoint()
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val vecs = emb.select($"vec_id".cast("long"),
        $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    val deadIds = vecs.map(_._1).filter(_ % 7 == 0)
    var codes = base
    var tombs = Seq.empty[Long].toDF("dead_id")
      .select($"dead_id".cast("long").as("dead_id")).localCheckpoint()
    val vecMem = MemoryStream[(Long, Seq[Double])]
    val delMem = MemoryStream[Long]
    val vq = vecMem.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        codes.synchronized {
          val fresh = StreamingOps.ingestCodesBatch(b, codes, book)
            .localCheckpoint()
          codes = codes.unionByName(fresh).localCheckpoint()
        }
        ()
      }.start()
    val dq = delMem.toDF().toDF("dead_id")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        codes.synchronized {
          val fresh = StreamingOps.tombstoneBatch(b, tombs)
            .localCheckpoint()
          tombs = tombs.unionByName(fresh).localCheckpoint()
        }
        ()
      }.start()
    try {
      // interleave: half the ingest, half the deletes, rest of the
      // ingest, then ALL deletes RE-delivered (idempotency under
      // at-least-once delivery)
      vecMem.addData(vecs.filter(_._1 % 3 == 0): _*)
      vq.processAllAvailable()
      delMem.addData(deadIds.filter(_ % 2 == 0): _*)
      dq.processAllAvailable()
      vecMem.addData(vecs: _*)
      vq.processAllAvailable()
      delMem.addData(deadIds: _*)
      dq.processAllAvailable()
      assert(tombs.count() == deadIds.size.toLong,
        "a re-delivered delete was double-recorded")
      val queryBatch = emb.filter($"vec_id" % 100 === 0)
        .select($"vec_id".cast("long").as("query_id"), $"embedding")
      val served = StreamingOps.maintainedAdcServeBatch(queryBatch,
          codes, tombs, book)
        .as[(Long, Long, Long, Double)].collect().toSet
      val expected = graft.queries.Queries
        .v106StoreMaintenance(spark, sf)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(served == expected && expected.nonEmpty)
    } finally { vq.stop(); dq.stop() }
  }
}
