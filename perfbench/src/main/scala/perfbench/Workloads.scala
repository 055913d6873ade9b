package perfbench

import graft.functions.TextFunctions.{minhashSignature, shingles}
import graft.functions.VectorFunctions.{intL2Sq, quantize}
import graft.operators._
import graft.sources.{BucketedStore, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Shared helpers of the workloads. */
object W {
  /** Run `df` to completion through the noop sink (every output column
    * is produced, nothing is kept), as graft's own Bench does. */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Materialize `df` (cache + count) so a following span times its
    * consumer alone; returns the cached frame and its row count. */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val c = df.cache(); (c, c.count())
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }

  /** (bytes, files) of the parquet data files under `p`. */
  def dirStats(p: Path): (Long, Long) = {
    val walk = Files.walk(p)
    try {
      val files = walk.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .toSeq
      (files.map(Files.size).sum, files.size.toLong)
    } finally walk.close()
  }

  def quantized(rows: Array[(Long, Array[Double])]): Array[(Long, Array[Long])] =
    rows.map { case (id, v) => (id, Vectors.quantize(v)) }

  /** Ranked (neighbor_id, dist) lists per query from a search output. */
  def ranked(df: DataFrame): Map[Long, Seq[(Long, Double)]] =
    df.select("query_id", "rnk", "neighbor_id", "dist").collect().toSeq
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getDouble(3)))
      }
}

/** Exact KNN: repeated batches of `KnnJoin.knnL2` top-10 over a cached
  * 64-d gallery — the reference's flat-index search. Q is large enough
  * that the O(Q·N) scan, not the per-batch jobs and gallery pass, is
  * most of a batch (`operators.knnL2_pair_share` in the traced run). */
final class KnnExact(run: Run) extends Workload {
  val N = 20000; val Q = 1000; val K = 10; val TopKSample = 8
  private lazy val galleryRows = Vectors.make(run.seed, 0, N, 0L)
  private var gallery: DataFrame = _

  def load(): Unit = { gallery = W.materialize(Vectors.frame(run.spark, galleryRows))._1 }
  override def unload(): Unit = gallery.unpersist(true)

  private def batch(b: Int) = Vectors.make(run.seed, 1 + b, Q, b.toLong * Q)
  private def knn(q: DataFrame) = KnnJoin.knnL2(gallery, q, "id", "vec", "id", K)

  def execute(): Unit = {
    val spark = run.spark
    // warm-up, untimed: the JIT keeps speeding requests up for several batches
    for (w <- 0 until 3) W.force(knn(Vectors.batch(spark, batch((1 << 20) + w))))
    run.closedLoop(minRequests = 5) { b =>
      val q = Vectors.batch(spark, batch(b))
      run.request("knn_batch")(run.span("operators.knnL2")(W.force(knn(q))))
      if (run.trace) {
        run.span("operators.knnL2_quarter")(
          W.force(knn(Vectors.batch(spark, batch(b).take(Q / 4)))))
        traceKernels(q)
      }
    }
    val p50 = Stats.median(run.latencies.toSeq)
    run.out("work_per_s") = Q.toDouble * N / p50
    run.out("e2e") = Map("pairs_per_s" -> Q.toDouble * N / p50,
      "batch_queries" -> Q, "gallery_rows" -> N)
    check()
    if (run.trace) {
      run.layer("operators.knnL2_s") = run.medianSpan("operators.knnL2")
      // knnL2 time is a + b·Q: a per-batch part and an O(Q·N) part. A
      // batch of Q/4 queries next to each full one gives the O(Q·N)
      // share of a full batch, b·Q / (a + b·Q).
      run.layer("operators.knnL2_pair_share") = Stats.median(
        run.spanSeconds("operators.knnL2").zip(run.spanSeconds("operators.knnL2_quarter"))
          .map { case (full, quarter) => (full - quarter) / (0.75 * full) })
      run.layer("kernels.l2sq_ns_per_pair") =
        run.medianSpan("kernels.l2sq") * 1e9 / (Q.toDouble * N)
      run.layer("kernels.topk_ns_per_row") =
        run.medianSpan("kernels.topk") * 1e9 / (TopKSample.toDouble * N)
      run.layer("operators.topk_rows_in_per_row_out") = Stats.median(
        run.tracer.spans.filter(_.name == "operators.knnL2")
          .map(s => s.c.topkRowsIn.toDouble / math.max(1L, s.c.topkRowsOut)).toSeq)
    }
    run.finish()
  }

  /** knnL2's two stages apart: the scored cross product without top-k,
    * then TopK.perGroup over materialized scored rows of a sample. */
  private def traceKernels(q: DataFrame): Unit = {
    val g = gallery.select(col("id").as("neighbor_id"), quantize(col("vec")).as("gv"))
    def scored(qs: DataFrame) = g.join(broadcast(qs.select(col("id").as("query_id"),
        quantize(col("vec")).as("qv"))))
      .select(col("query_id"), col("neighbor_id"),
        intL2Sq(col("gv"), col("qv")).cast("double").as("d2"))
    run.span("kernels.l2sq")(W.force(scored(q)))
    val (rows, _) = W.materialize(scored(q.orderBy("id").limit(TopKSample)))
    run.span("kernels.topk")(W.force(
      TopK.perGroup(rows, "query_id", "neighbor_id", "d2", K, ascending = true)))
    rows.unpersist(true)
  }

  /** Exact ids and distances against brute-force integer L2 for a seeded
    * sample of queries from two timed batches. */
  private def check(): Unit = {
    val rnd = new java.util.Random(run.seed)
    val nb = math.max(1, run.attempted.toInt)
    val g = W.quantized(galleryRows)
    for (b <- Seq(rnd.nextInt(nb), rnd.nextInt(nb)).distinct) {
      val qs = batch(b)
      val sample = Seq.fill(4)(qs(rnd.nextInt(Q))).distinctBy(_._1)
      try {
        val got = W.ranked(knn(Vectors.batch(run.spark, sample.toArray)))
        val bad = sample.filterNot { case (qid, v) =>
          got.get(qid).contains(Vectors.bruteTopK(g, Vectors.quantize(v), K))
        }
        run.check(s"knn_batch_$b", bad.isEmpty,
          s"${sample.size - bad.size}/${sample.size} queries exact")
      } catch { case NonFatal(e) => run.fail(s"check knn_batch_$b", e) }
    }
  }
}

/** IVF / IVF-PQ index build over the same generator, then a fixed
  * interleave of IVF-PQ serve batches and ingest batches appended to
  * the persisted stores. The flat IVF store is served in the checks. */
final class AnnBuildServe(run: Run) extends Workload {
  val N = 10000; val NList = 16; val Iters = 1
  val M = 4; val KSub = 16; val PqIters = 1
  val ServeQ = 32; val NProbe = 4; val K = 10; val Ingest = 500
  val Dim: Int = Vectors.Dim
  private lazy val galleryRows = Vectors.make(run.seed, 0, N, 0L)
  private var gallery: DataFrame = _
  private val ivfPath = run.work.resolve("ann_ivf")
  private val pqPath = run.work.resolve("ann_ivfpq")
  private val ingested = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]

  def load(): Unit = { gallery = W.materialize(Vectors.frame(run.spark, galleryRows))._1 }
  override def unload(): Unit = gallery.unpersist(true)

  private def write(df: DataFrame, path: Path, mode: String): Unit =
    run.span("sources.store_write")(
      df.write.mode(mode).partitionBy("centroid_id").parquet(path.toString))

  /** Assign + encode `vecs` and write both stores (`mode`). */
  private def encodeAndStore(vecs: DataFrame, cents: DataFrame,
                             book: Seq[PqIndex.Codebook], mode: String): Unit = {
    val flat = IvfIndex.assign(vecs, cents, "id", "vec", "cid").select("id", "vec", "centroid_id")
    val codes = IvfPq.encodeResidual(vecs, cents, "id", "vec", "cid", Dim, M, book)
    if (run.trace) {
      // decomposed: the encode span covers the map-only pass alone
      val (f, _) = run.span("operators.encode")(W.materialize(flat))
      val (c, _) = run.span("operators.encode")(W.materialize(codes))
      write(f, ivfPath, mode); write(c, pqPath, mode)
      f.unpersist(true); c.unpersist(true)
    } else {
      write(flat, ivfPath, mode); write(codes, pqPath, mode)
    }
  }

  def execute(): Unit = {
    val spark = run.spark
    W.deleteTree(ivfPath); W.deleteTree(pqPath)
    val t0 = System.nanoTime()
    val cents = run.span("operators.ivf_train")(
      IvfIndex.train(spark, gallery, "id", "vec", NList, Iters)).cache()
    val residuals = IvfPq.residuals(gallery, cents, "id", "vec", "cid")
    val book = run.span("operators.pq_train")(
      PqIndex.train(spark, residuals, "id", "rvec", Dim, M, KSub, PqIters))
    encodeAndStore(gallery, cents, book, "overwrite")
    val buildS = (System.nanoTime() - t0) / 1e9
    run.mark("build")
    val (bytes, files) = (W.dirStats(ivfPath), W.dirStats(pqPath)) match {
      case ((b1, f1), (b2, f2)) => (b1 + b2, f1 + f2)
    }

    def serve(q: DataFrame, pq: Boolean): DataFrame =
      if (pq) IvfPq.searchResidual(spark.read.parquet(pqPath.toString), cents, q,
        "cid", "id", "vec", Dim, M, book, K, NProbe)
      else IvfIndex.search(IvfIndex.load(spark, ivfPath.toString), cents, q,
        "id", "vec", "cid", "id", K, NProbe)
    for (w <- 0 until 3) // warm-up, untimed
      W.force(serve(Vectors.batch(spark, Vectors.make(run.seed, (1 << 20) + w, ServeQ, 0)), pq = true))

    // fixed interleave: two IVF-PQ serve batches, one ingest batch
    var ingestS = 0.0
    run.closedLoop(minRequests = 6, cycle = 3) { i =>
      if (i % 3 == 2) {
        val rows = Vectors.make(run.seed, 10000 + i, Ingest, 1000000000L + i.toLong * Ingest)
        val batch = Vectors.batch(spark, rows)
        run.request("ingest", sample = false)(encodeAndStore(batch, cents, book, "append"))
          .foreach { s => ingestS += s; ingested ++= rows }
      } else {
        val q = Vectors.batch(spark, Vectors.make(run.seed, 1 + i, ServeQ, i.toLong * ServeQ))
        run.request("serve")(run.span("operators.search")(W.force(serve(q, pq = true))))
      }
    }
    val nIngestBatches = ingested.size / Ingest
    val recall = checkAndRecall(cents, serve)
    run.out("work_per_s") = N / buildS
    run.out("e2e") = Map(
      "index_build_s" -> buildS,
      "ingest_rows_per_s" -> ingested.size / ingestS,
      "recall_at_10" -> recall._2, "recall_at_10_ivf_flat" -> recall._1,
      "store_bytes_per_vector_byte" -> bytes.toDouble / (N.toDouble * Dim * 8),
      "ingest_batches" -> nIngestBatches, "gallery_rows" -> N, "nlist" -> NList,
      "nprobe" -> NProbe, "pq_m" -> M, "pq_ksub" -> KSub)
    if (run.trace) {
      val search = run.tracer.spans.filter(_.name == "operators.search")
      run.layer("operators.ivf_train_s") = run.medianSpan("operators.ivf_train")
      run.layer("operators.pq_train_s") = run.medianSpan("operators.pq_train")
      run.layer("operators.encode_s") = run.spanSeconds("operators.encode").take(2).sum
      run.layer("operators.search_s") = run.medianSpan("operators.search")
      run.layer("operators.candidates_per_query") =
        Stats.median(search.map(_.c.rowsScanned.toDouble / ServeQ).toSeq)
      run.layer("sources.store_write_s") = run.spanSeconds("sources.store_write").take(2).sum
      run.layer("sources.store_bytes_written") = bytes.toDouble
      run.layer("sources.store_files") = files.toDouble
      run.layer("sources.files_read_per_batch") =
        Stats.median(search.map(_.c.filesRead.toDouble).toSeq)
      run.layer("queries.plan_ms") = Stats.median(search.map(_.c.planMs).toSeq)
      val (v, n) = W.materialize(gallery.select("id", "vec"))
      run.span("kernels.assign")(W.force(IvfIndex.assign(v, cents, "id", "vec", "cid")))
      run.layer("kernels.assign_ns_per_row") = run.medianSpan("kernels.assign") * 1e9 / n
      v.unpersist(true)
    }
    run.finish()
  }

  /** Recall@10 of both serve paths against brute force over everything
    * stored, exact distances on the flat path, and every ingested row
    * served as its own nearest neighbour. Returns (flat, IVF-PQ) recall. */
  private def checkAndRecall(cents: DataFrame,
                             serve: (DataFrame, Boolean) => DataFrame): (Double, Double) =
    try {
      val all = W.quantized(galleryRows ++ ingested)
      val evalQ = Vectors.make(run.seed, 999, 64, 0)
      val qdf = Vectors.batch(run.spark, evalQ)
      val exact = evalQ.map { case (id, v) => id -> Vectors.bruteTopK(all, Vectors.quantize(v), K) }.toMap
      def recall(got: Map[Long, Seq[(Long, Double)]]): Double =
        evalQ.map { case (id, _) =>
          got.getOrElse(id, Nil).map(_._1).toSet.intersect(exact(id).map(_._1).toSet).size / K.toDouble
        }.sum / evalQ.length
      val flat = W.ranked(serve(qdf, false))
      val pq = W.ranked(serve(qdf, true))
      val dist = all.toMap
      val wrongDist = evalQ.count { case (id, v) =>
        val qv = Vectors.quantize(v)
        flat.getOrElse(id, Nil).exists { case (nid, d) =>
          d != math.sqrt(Vectors.l2sq(dist(nid), qv).toDouble) / 10000.0 }
      }
      run.check("ivf_flat_distances_exact", wrongDist == 0, s"$wrongDist/${evalQ.length} queries with a wrong distance")
      if (ingested.nonEmpty) {
        val self = IvfIndex.search(IvfIndex.load(run.spark, ivfPath.toString), cents,
          Vectors.frame(run.spark, ingested.toArray), "id", "vec", "cid", "id", 1, 1)
          .filter(col("neighbor_id") === col("query_id") && col("dist") === 0.0).count()
        run.check("ingested_rows_servable", self == ingested.size, s"$self/${ingested.size} served as their own nearest")
        val stored = run.spark.read.parquet(pqPath.toString)
        val (rows, ids) = (stored.count(), stored.select("id").distinct().count())
        run.check("ivfpq_store_complete", rows == N + ingested.size && ids == rows,
          s"$rows rows, $ids ids, expected ${N + ingested.size}")
      }
      (recall(flat), recall(pq))
    } catch { case NonFatal(e) => run.fail("check ann", e); (0.0, 0.0) }
}

/** Corpus dedup: exact → MinHash-LSH → connected components → keep one
  * per cluster, over sf-style documents replicated with a bijective
  * per-replica token retag; then incremental near-dup admission. */
final class DedupPipeline(run: Run) extends Workload {
  val AdmitBatch = 200; val Stride = 10000000L; val Threshold = 0.5
  private var docs: DataFrame = _
  private var arrivals: DataFrame = _
  private var nDocs = 0L
  private val table = "perfbench_band_index"

  def load(): Unit = {
    val (d, n) = W.materialize(Tables.documents(run.spark, run.dataDir).select("doc_id", "text"))
    docs = d; nDocs = n
    arrivals = W.materialize(run.spark.read.parquet(s"${run.dataDir}/arrivals.parquet")
      .select("doc_id", "text"))._1
  }
  override def unload(): Unit = { docs.unpersist(true); arrivals.unpersist(true) }

  def execute(): Unit = {
    val spark = run.spark
    val t0 = System.nanoTime()
    val exact = run.span("operators.exact")(W.materialize(Dedup.exact(docs, "doc_id", "text"))._1)
    val survivors = docs.join(exact.select(col("keep_id").as("doc_id")), "doc_id")
    val surv = if (run.trace) run.span("operators.exact")(W.materialize(survivors)._1) else survivors
    val pairs = run.span("operators.minhash_lsh")(
      W.materialize(Dedup.minhashLsh(surv, "doc_id", "text", threshold = Threshold))._1)
    val cc = run.span("operators.cc")(
      W.materialize(Clustering.connectedComponents(pairs, "a_id", "b_id", surv, "doc_id"))._1)
    val kept = surv.join(cc.filter(col("id") === col("cluster_id")).select(col("id").as("doc_id")), "doc_id")
    val keptPath = run.work.resolve("dedup_kept").toString
    run.span("sources.corpus_write")(kept.write.mode("overwrite").parquet(keptPath))
    val batchS = (System.nanoTime() - t0) / 1e9
    val base = spark.read.parquet(keptPath).cache()
    run.span("sources.store_write")(
      BucketedStore.save(Dedup.bandIndex(base, "doc_id", "text"), table, "band_hash", Main.Cores))
    run.mark("build")

    def admit(batch: DataFrame): DataFrame = {
      val matched = Dedup.incrementalNearDup(batch, "doc_id", "text",
        BucketedStore.load(spark, table), base, threshold = Threshold)
      batch.join(matched.select(col("batch_id").as("doc_id")), Seq("doc_id"), "left_anti")
    }
    val nArr = arrivals.count()
    val id0 = arrivals.agg(min("doc_id")).first().getLong(0) // arrival ids are contiguous
    def batch(i: Int): DataFrame = {
      val lo = id0 + (i.toLong * AdmitBatch) % nArr
      arrivals.filter(col("doc_id") >= lo && col("doc_id") < lo + AdmitBatch)
    }
    W.force(admit(batch(0)))
    run.closedLoop(minRequests = 5) { i =>
      val b = batch(i + 1)
      run.request("admit")(run.span("operators.admit")(W.force(admit(b))))
    }
    run.out("work_per_s") = nDocs / batchS
    val structure = check(exact, pairs, cc, base, admit)
    run.out("e2e") = structure ++ Map("docs_per_s" -> nDocs / batchS, "batch_phase_s" -> batchS,
      "docs" -> nDocs, "admit_batch_docs" -> AdmitBatch)
    if (run.trace) {
      val (sh, n) = W.materialize(surv.select(col("doc_id"), shingles(col("text"), 3).as("sh")))
      run.span("kernels.minhash")(W.force(sh.select(col("doc_id"), minhashSignature(col("sh"), 12))))
      sh.unpersist(true)
      run.layer("kernels.minhash_ns_per_doc") = run.medianSpan("kernels.minhash") * 1e9 / n
      run.layer("operators.minhash_lsh_s") = run.medianSpan("operators.minhash_lsh")
      run.layer("operators.cc_s") = run.medianSpan("operators.cc")
      run.layer("operators.cc_jobs") =
        run.tracer.spans.filter(_.name == "operators.cc").map(_.c.jobs.toDouble).sum
      run.layer("operators.admit_s") = run.medianSpan("operators.admit")
      val bands = Dedup.bandIndex(surv, "doc_id", "text")
      val candidates = bands.as("x").join(bands.as("y"),
          col("x.band_idx") === col("y.band_idx") && col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
      run.layer("operators.lsh_verified_per_candidate") = pairs.count().toDouble / candidates
    }
    run.finish()
  }

  /** Word 3-shingle set, as graft's `shingles(text, 3)`. */
  private def shingleSet(text: String): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < 3) Set.empty else t.sliding(3).map(_.mkString(" ")).toSet
  }

  /** Checks against structure the retag guarantees and brute force:
    *  - exact-duplicate groups: exactly Replicas × replica 0's;
    *  - every LSH pair, in every replica, is a true pair (Jaccard ≥
    *    threshold by brute force over replica 0's documents) with the
    *    reported Jaccard;
    *  - connected components equal union-find over the LSH pairs;
    *  - re-admitting indexed documents admits none.
    * LSH pair and cluster counts per replica are reported, not checked
    * for equality: the retag changes every MinHash value, so which true
    * pairs the banding finds differs between replicas. */
  private def check(exact: DataFrame, pairs: DataFrame, cc: DataFrame, base: DataFrame,
                    admit: DataFrame => DataFrame): Map[String, Any] =
    try {
      val groups = exact.filter(col("n") > 1).select("keep_id").collect().map(_.getLong(0) / Stride)
      val replicas = (docs.agg(max("doc_id")).first().getLong(0) / Stride + 1).toInt
      val g0 = groups.count(_ == 0)
      run.check("exact_groups_replicate", groups.length == replicas * g0,
        s"${groups.length} exact-duplicate groups, $g0 in replica 0, $replicas replicas")

      val rep0 = docs.filter(col("doc_id") < Stride).collect()
        .map(r => r.getLong(0) -> shingleSet(r.getString(1))).toMap
      val ids = rep0.keys.toArray.sorted
      val truth = (for (i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator) yield {
        val (a, b) = (rep0(ids(i)), rep0(ids(j)))
        val inter = a.intersect(b).size
        val uni = a.size + b.size - inter
        ((ids(i), ids(j)), if (uni == 0) 0.0 else inter.toDouble / uni)
      }).filter(_._2 >= Threshold).toMap
      val got = pairs.select("a_id", "b_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val wrong = got.count { case (a, b, j) =>
        a / Stride != b / Stride || !truth.get((a % Stride, b % Stride)).contains(j)
      }
      run.check("lsh_pairs_true", wrong == 0,
        s"$wrong of ${got.length} LSH pairs not a true pair with the reported Jaccard")

      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      got.foreach { case (a, b, _) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = cc.select("id", "cluster_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      val mislabeled = labels.count { case (id, c) => find(id) != c }
      run.check("cc_equals_union_find", mislabeled == 0,
        s"$mislabeled of ${labels.length} nodes with a wrong cluster")

      val again = admit(base.orderBy("doc_id").limit(AdmitBatch)).count()
      run.check("readmit_indexed_admits_none", again == 0, s"$again of $AdmitBatch re-admitted")

      val perRep = got.groupBy(_._1 / Stride).map { case (r, ps) => r -> ps.length }
      val clusters = labels.groupBy(_._2).filter(_._2.length > 1).keys.groupBy(_ / Stride)
      Map("replicas" -> replicas, "true_pairs_per_replica" -> truth.size,
        "lsh_pairs_replica0" -> perRep.getOrElse(0L, 0),
        "lsh_pairs_all" -> got.length,
        "lsh_recall_replica0" -> perRep.getOrElse(0L, 0).toDouble / math.max(1, truth.size),
        "clusters_replica0" -> clusters.get(0L).map(_.size).getOrElse(0),
        "clusters_all" -> clusters.values.map(_.size).sum)
    } catch { case NonFatal(e) => run.fail("check dedup", e); Map.empty }
}

/** A fixed subset of graft's query keys, called as graft.Bench calls
  * them (noop sink) against seeded star-schema tables. */
final class QueryMix(run: Run) extends Workload {
  /** Set-up: open the tables the mix reads (scan partitioning probed). */
  def load(): Unit =
    QueryMix.Tables.foreach(t => Tables.load(run.spark, run.dataDir, t).count())

  def execute(): Unit = {
    val spark = run.spark
    val fns = QueryMix.Keys.map(k => k -> graft.SparkEntry.queries(k))
    // Two warm-up passes (codegen, JIT, persisted stores), untimed. The
    // first writes each key's rows and oracle SQL in the layout
    // tools/compare.py reads, for the DuckDB compare run.py makes (no
    // coalesce, which would run each key's last stage in one task). The
    // second makes the noop-sink calls the timed passes make: with one
    // warm-up pass the first timed pass ran 10-40% slower than the next.
    val outDir = run.work.resolve("mix_out")
    for ((k, fn) <- fns)
      try fn(spark, run.dataDir).write.parquet(outDir.resolve(k).toString)
      catch { case NonFatal(e) => run.fail(s"warm-up $k", e) }
    Files.createDirectories(outDir)
    Files.writeString(outDir.resolve("oracle_sql.json"),
      Json(QueryMix.Keys.map(k => k -> graft.SparkEntry.oracleSql(k)).toMap))
    for ((k, fn) <- fns)
      try W.force(fn(spark, run.dataDir))
      catch { case NonFatal(e) => run.fail(s"warm-up $k", e) }
    run.mark("warm-up")
    // One request is one pass over the keys in order (a dashboard
    // refresh); the per-key times inside it give graft.Bench's total.
    val perKey = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    run.closedLoop(minRequests = 2) { _ =>
      run.request("mix_pass") {
        for ((k, fn) <- fns) {
          val t0 = System.nanoTime()
          run.span(s"queries.$k")(W.force(fn(spark, run.dataDir)))
          perKey(k) = perKey(k) :+ (System.nanoTime() - t0) / 1e9
        }
      }
    }
    val total = QueryMix.Keys.map(k => Stats.median(perKey(k))).sum
    run.out("work_per_s") = fns.size / total
    run.out("e2e") = Map("mix_total_s" -> total, "keys" -> fns.size) ++
      QueryMix.Keys.map(k => s"${k}_s" -> Stats.median(perKey(k)))
    run.out("mix_out") = outDir.toString
    if (run.trace) {
      for (k <- QueryMix.Keys) run.layer(s"queries.${k}_s") = run.medianSpan(s"queries.$k")
      run.layer("queries.plan_ms") = Stats.median(
        run.tracer.spans.filter(_.layer == "queries").map(_.c.planMs).toSeq)
    }
    run.finish()
  }
}

object QueryMix {
  /** Rule: the lowest-numbered key of each of the q, e, t, m and p
    * families, and the beam walk that serves from the persisted edge
    * store (v79). */
  val Keys: Seq[String] = Seq(
    "q1_pricing_summary", "e1_event_window_agg", "t1_lang_id", "m1_binary_meta",
    "p1_corpus_clean", "v79_beam_search")
  val Tables: Seq[String] = Seq("lineitem", "events", "documents", "embeddings")
}
