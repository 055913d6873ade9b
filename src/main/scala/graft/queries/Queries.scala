package graft.queries

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.multimodal.BinaryPipeline
import graft.operators._
import graft.sources.{BucketedStore, Store, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The Spark side of every SURVEY §2 operator, one method per
  * `SparkEntry.queries` key. Each result is column-name/type-aligned
  * with its DuckDB twin in [[Oracles]] (the driver sorts columns by name
  * and hashes values — names AND numeric determinism both matter; see
  * SURVEY §3 for the exact-arithmetic strategy).
  */
object Queries {

  // ---------- vector / retrieval core ----------

  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  /** Query set: every 100th vector (deterministic, data-independent). */
  private def queryVecs(e: DataFrame) = e.filter(col("vec_id") % 100 === 0)
  /** The fixture's delete set (v62's tombstones): vec_id % 7 = 0. */
  private def isDead(id: Column): Column = id % 7 === 0
  /** The delete set as a (dead_id) frame. */
  private def deadIds(s: SparkSession, d: String): DataFrame =
    emb(s, d).filter(isDead(col("vec_id")))
      .select(col("vec_id").cast("long").as("dead_id"))
  /** The rows of `vecs` (id, …) whose id is not in `tombs`. */
  private def withoutDead(vecs: DataFrame, tombs: DataFrame): DataFrame =
    vecs.join(tombs, vecs("id") === tombs("dead_id"), "left_anti")
  /** Per-query recall of an approximate top-k against the exact one,
    * both (query_id, neighbor_id, …) frames of O(Q·k) rows: the approx
    * side is broadcast and left-joined, k counts the exact neighbors,
    * n_hit the ones found; emits (query_id, n_hit, [k,] n_hit / k as
    * `recallCol`). */
  private def recallRow(exact: DataFrame, approx: DataFrame,
                        recallCol: String = "recall_at_5",
                        withK: Boolean = false): DataFrame = {
    val found = approx
      .select(col("query_id").as("qa"), col("neighbor_id").as("na"))
    exact.select(col("query_id"), col("neighbor_id"))
      .join(broadcast(found),
        col("query_id") === col("qa") && col("neighbor_id") === col("na"),
        "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k"),
        sum(when(col("na").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .select(Seq(col("query_id"), col("n_hit")) ++
        (if (withK) Seq(col("k")) else Nil) :+
        (col("n_hit") / col("k")).as(recallCol): _*)
  }
  /** [[recallRow]] of a maintained store's serve against the exact
    * top-5 over the alive corpus: the exact side excludes the delete
    * set too, so the row measures the codes, not the deletes. */
  private def aliveRecall(s: SparkSession, d: String,
                          approx: => DataFrame): DataFrame = {
    val e = emb(s, d)
    recallRow(KnnJoin.knnL2(e.filter(!isDead(col("vec_id"))),
      queryVecs(e), "vec_id", "embedding", "vec_id", k = 5), approx)
  }
  /** Seed centroids: first 10 vectors (deterministic IVF quantizer). */
  private def seedCentroids(e: DataFrame) =
    e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding"))

  def v1KnnL2(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    KnnJoin.knnL2(e, queryVecs(e), "vec_id", "embedding", "vec_id", k = 5)
  }

  def v2KnnCosine(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    KnnJoin.knnCosine(e, queryVecs(e), "vec_id", "embedding", "vec_id", k = 5)
  }

  /** Filtered ANN — exact KNN restricted by a metadata predicate (the
    * faiss `IDSelector` twin, and THE canonical vector-DB feature the
    * flat reference cannot express without post-filtering). In an
    * engine the filter PUSHES TO THE SCAN: the distance kernel never
    * sees excluded rows, so a selective predicate makes search
    * proportionally cheaper, not recall-lossy. */
  def v15FilteredKnn(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    KnnJoin.knnL2(e.filter(col("label") % 3 === 0), queryVecs(e),
      "vec_id", "embedding", "vec_id", k = 5)
  }

  def v3VectorNorms(s: SparkSession, d: String): DataFrame =
    emb(s, d).select(
      col("vec_id").cast("long").as("vec_id"),
      size(col("embedding")).cast("long").as("dim"),
      (sqrt(intNormSq(quantize(col("embedding")))) / lit(10000.0)).as("norm"))

  def v4CategoryCounts(s: SparkSession, d: String): DataFrame =
    emb(s, d).groupBy(col("label").cast("long").as("label_id"))
      .agg(count(lit(1)).as("n"))

  def v5PerClassSample(s: SparkSession, d: String): DataFrame =
    Sampling.perClassSample(
      emb(s, d).select(col("label").cast("long").as("label_id"),
        col("vec_id").cast("long").as("vec_id")),
      "label_id", "vec_id", n = 10)
      .select("label_id", "vec_id", "rnk")

  def v6IvfAssign(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    IvfIndex.assign(e, seedCentroids(e), "vec_id", "embedding", "cid")
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n"), sum("d2").cast("long").as("sum_d2"))
  }

  def v7IvfSearch(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cents = seedCentroids(e)
    val index = IvfIndex.assign(e, cents, "vec_id", "embedding", "cid")
    IvfIndex.search(index, cents, queryVecs(e),
      "vec_id", "embedding", "cid", "vec_id", k = 3, nprobe = 2)
  }

  def v8KnnJoinMeta(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    // metadata lookup join (reference app.py:171-174). The KNN result is
    // tiny (Q·k rows) → broadcast THAT side; the gallery-sized metadata
    // streams through two column-pruned scans as the probe side of
    // broadcast hash joins. Never broadcast a table that scales with the
    // gallery.
    val meta = e.select(col("vec_id").cast("long").as("id"),
      col("label").cast("long").as("lab"))
    val hits = v1KnnL2(s, d).select("query_id", "rnk", "neighbor_id")
    val withNeighborLab = meta
      .join(broadcast(hits), col("id") === col("neighbor_id"))
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("lab").as("label_id"))
    meta
      .join(broadcast(withNeighborLab), col("id") === col("query_id"))
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("label_id"),
        when(col("label_id") === col("lab"), 1L).otherwise(0L)
          .as("same_label"))
  }

  /** LSH-bucketed approximate KNN under the hard gate: seed-fixed
    * hyperplanes are quantized to exact Longs (LshIndex.quantizePlanes),
    * so the DuckDB twin folds the identical plane literals into SQL and
    * the sign tests agree bit-for-bit. */
  def v10LshSearch(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    // 6 planes → 64 buckets: enough collisions at test SF that the
    // bucket join and in-bucket top-k do real work (12+ planes at 100 TB)
    LshIndex.search(e, queryVecs(e), "vec_id", "embedding", "vec_id",
      dim = 64, k = 5, nPlanes = 6)
  }

  /** Multi-probe LSH search (Lv et al., VLDB'07) — v10's bucket search
    * probing the Hamming-1 shell too: the standard recall lever at
    * fixed table count. Gallery-side plan identical to v10 (one
    * bucket key, one hash join); only the tiny broadcast query frame
    * fans out ×(nPlanes+1). Candidate supersets v10's, so recall can
    * only improve — the spec asserts exactly that. */
  def v40MultiprobeLsh(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    LshIndex.searchMultiProbe(e, queryVecs(e), "vec_id", "embedding",
      "vec_id", dim = 64, k = 5, nPlanes = 6)
  }

  /** Farthest-point (maximin) sampling, k=4 seeds — the k-center
    * coreset / k-means++-style initializer a training pipeline uses to
    * pick maximally-diverse exemplars. Inherently k sequential rounds;
    * each round is a MAP-ONLY pass over the gallery (chosen seeds ride
    * along as literal arrays — never a join) feeding a top-1
    * TakeOrdered reduce, so per-round cost is O(N·k·dim) perfectly
    * parallel work plus a one-row collect. All distances are exact
    * integer squared-L2 on the quantized vectors; argmax ties break on
    * min vec_id, so the chosen set is bit-deterministic. */
  def v41MaximinSeeds(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).select(col("vec_id").cast("long").as("vec_id"),
      quantize(col("embedding")).as("qv"))
    val first = e.orderBy(col("vec_id")).limit(1).collect()(0)
    var seeds = Vector((first.getLong(0), first.getSeq[Long](1), 0L))
    while (seeds.size < 4) {
      val minD = seeds.map { case (_, sv, _) =>
        intL2Sq(col("qv"), typedLit(sv)) }.reduce(least(_, _))
      val nxt = e.select(col("vec_id"), col("qv"), minD.as("md"))
        .orderBy(col("md").desc, col("vec_id")).limit(1).collect()(0)
      seeds = seeds :+ ((nxt.getLong(0), nxt.getSeq[Long](1),
        nxt.getLong(2)))
    }
    import s.implicits._
    seeds.zipWithIndex
      .map { case ((id, _, d2), i) => (i + 1L, id, d2) }
      .toDF("seed_rank", "vec_id", "d2")
  }

  /** OVERSAMPLED maximin seeding — the k-means|| answer (Bahmani et
    * al., VLDB'12) to v41's inherent serialism: instead of k rounds
    * each collecting ONE farthest point, each round keeps the TOP-ℓ=4
    * by min-distance-to-chosen (desc, ties to min vec_id), so an
    * equal-size seed pool costs k/ℓ driver round-trips. The ℓ picks
    * within a round don't see each other (exactly the oversampling
    * trade the paper makes — slightly less diverse per pick, ℓ× fewer
    * sequential barriers); at 100 TB each round is still ONE map-only
    * pass (chosen seeds ride as literal arrays, never a join) into a
    * TakeOrdered-4 reduce. Output: (round, pick_rnk, vec_id, md) — the
    * round-0 row is the anchor seed, rounds 1-2 the two oversampled
    * batches. Chosen points are NOT excluded from later rounds: their
    * md is 0, so they rank last unless the corpus holds exact
    * duplicates — and the oracle ranks the identical set, so the two
    * engines agree regardless. */
  def v84OversampledMaximin(s: SparkSession, d: String): DataFrame = {
    val ell = 4
    val e = emb(s, d).select(col("vec_id").cast("long").as("vec_id"),
      quantize(col("embedding")).as("qv"))
    val first = e.orderBy(col("vec_id")).limit(1).collect()(0)
    var chosen = Vector(first.getSeq[Long](1))
    var rows = Vector((0L, 1L, first.getLong(0), 0L))
    for (r <- 1 to 2) {
      val minD = chosen.map(sv => intL2Sq(col("qv"), typedLit(sv)))
        .reduce(least(_, _))
      val batch = e.select(col("vec_id"), col("qv"), minD.as("md"))
        .orderBy(col("md").desc, col("vec_id")).limit(ell).collect()
      rows = rows ++ batch.zipWithIndex.map { case (row, i) =>
        (r.toLong, i + 1L, row.getLong(0), row.getLong(2)) }
      chosen = chosen ++ batch.map(_.getSeq[Long](1))
    }
    import s.implicits._
    rows.toDF("round", "pick_rnk", "vec_id", "md")
  }

  /** Rocchio pseudo-relevance feedback (query expansion): each query is
    * replaced by itself plus its v1 top-5 neighbors and re-searched.
    * The expanded vector is the exact INTEGER SUM e = q + Σnᵢ (six
    * quantized vectors — no division anywhere), one native vector-sum
    * aggregate per query. The re-search ranks by ‖6g − e‖², which
    * orders identically to distance-to-mean ‖g − e/6‖² but stays in
    * exact Long arithmetic: it is plain L2 between 6·g (quantize at
    * scale 6 of the integer vector, exact far below 2⁵³) and e, so the
    * gallery streams once through the blocked exact scan against the
    * broadcast Q-row expansion, as v1 does. */
  def v42QueryExpansion(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).select(col("vec_id").cast("long").as("vec_id"),
      quantize(col("embedding")).as("qv"))
    val hits = v1KnnL2(s, d).select("query_id", "neighbor_id")
    val nb = e.join(broadcast(hits), col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("qv"))
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("qv"))
    val exp = nb.unionByName(q).groupBy("query_id")
      .agg(vectorSum(col("qv")).as("qv"))
    KnnJoin.scan(graft.plans.KnnMetric.L2,
        e.select(col("vec_id"), quantize(col("qv"), 6).as("qv")), exp,
        "vec_id", "qv", "query_id", k = 5, identity)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("score").cast("long").as("d2s"))
  }

  /** PQ asymmetric-distance search under the hard gate. Codebooks are
    * SEEDED (sub-slices of the first `ksub` gallery vectors — the same
    * derive-from-data trick as v6's seed centroids) rather than Lloyd-
    * trained, so the oracle can reconstruct them in SQL; training is
    * covered by PqIndexSpec. All math runs on fixed-point values
    * (integers carried in doubles, < 2^53), so encode argmins and ADC
    * sums are exact in both engines. */
  def v11PqAdc(s: SparkSession, d: String): DataFrame = seededPqServe(s, d)

  private val PqM = 8; private val PqDim = 64; private val PqKsub = 16

  /** The fixed-point (id, qemb) gallery every PQ key encodes: qemb
    * holds integer-valued doubles round(x·10⁴), exact in IEEE math,
    * passed through `rotate` (the OPQ keys' permutation). */
  private def qembGallery(s: SparkSession, d: String,
                          rotate: Column => Column = identity): DataFrame =
    emb(s, d).select(col("vec_id").cast("long").as("id"),
      rotate(transform(quantize(col("embedding")), x => x.cast("double")))
        .as("qemb"))

  /** The every-100th query set of an (id, qemb) gallery. */
  private def qembQueries(g: DataFrame): DataFrame =
    g.filter(col("id") % 100 === 0)

  /** A PQ-family top-5 with `dist` back on the embedding scale. */
  private def unscaled(hits: DataFrame): DataFrame =
    hits.select(col("query_id"), col("rnk"), col("neighbor_id"),
      (col("dist") / lit(10000.0)).as("dist"))

  /** The flat-PQ serve: ADC top-5 of `g`'s queries over `codes`. */
  private def pqServe(codes: DataFrame, book: Seq[PqIndex.Codebook],
                      g: DataFrame): DataFrame =
    unscaled(PqIndex.searchAdc(codes, qembQueries(g), "id", "qemb",
      PqDim, PqM, book, k = 5))

  /** v11's serve of the seeded-PQ index under `rotate`. */
  private def seededPqServe(s: SparkSession, d: String,
                            rotate: Column => Column = identity)
      : DataFrame = {
    val (codes, g, book) = seededPqIndex(s, d, rotate)
    pqServe(codes, book, g)
  }

  /** The residual-IVFPQ serve: nprobe = 2 residual-ADC top-5 of `g`'s
    * queries over `codes`, probes routed against `cents` (cid, qemb). */
  private def ivfpqServe(codes: DataFrame, cents: DataFrame,
                         book: Seq[PqIndex.Codebook],
                         g: DataFrame): DataFrame =
    unscaled(IvfPq.searchResidual(codes, cents, qembQueries(g), "cid",
      "id", "qemb", PqDim, PqM, book, k = 5, nprobe = 2))

  /** The seeded-PQ index shared by v11 (direct ADC), v16 (ADC
    * shortlist + exact re-rank), v44, v51 and the OPQ keys (under their
    * `rotate`): fixed-point gallery, seeded codebooks, map-only encode.
    * Returns (codes, gallery, codebooks). */
  private def seededPqIndex(s: SparkSession, d: String,
                            rotate: Column => Column = identity)
      : (DataFrame, DataFrame, Seq[PqIndex.Codebook]) = {
    val g = qembGallery(s, d, rotate)
    val book = PqIndex.seededBook(g, "id", "qemb", PqDim, PqM, PqKsub)
    val codes = PqIndex.encode(g, "id", "qemb", PqDim, PqM, book)
    (codes, g, book)
  }

  /** PQ reconstruction-error report — the quantization-quality metric a
    * deployment reads before committing an m/ksub config (how much L2
    * mass the codes destroy). Per-vector error is join-free after one
    * id-keyed SMJ of codes back to vectors: per subspace, the selected
    * centroid comes from a ksub-sized positional literal (codebooks are
    * centroid-sized by contract) and the slice-vs-centroid square sum
    * runs in integer-valued doubles (< 2⁵³, exact); the corpus rollup
    * sums exact Longs. Output is ONE row. */
  def v44PqError(s: SparkSession, d: String): DataFrame = {
    val (codes, _, book) = seededPqIndex(s, d)
    val sub = PqDim / PqM
    val g = qembGallery(s, d)
    val cbTables = book.groupBy(_.sub).map { case (j, entries) =>
      val arr = Array.fill(entries.map(_.cid).max + 1)(Seq.empty[Double])
      entries.foreach(e => arr(e.cid) = e.centroid)
      j -> typedLit(arr.toSeq)
    }
    val err = (0 until PqM).map { j =>
      val cent = element_at(cbTables(j), col("codes")(j) + 1)
      aggregate(zip_with(slice(col("qemb"), j * sub + 1, sub), cent,
        (x, c) => (x - c) * (x - c)), lit(0.0), (a, b) => a + b)
    }.reduce(_ + _)
    codes.join(g, "id")
      .select(err.cast("long").as("err"))
      .agg(count(lit(1)).as("n"), sum("err").as("sum_err"),
        max("err").as("max_err"))
      .withColumn("mean_err", col("sum_err") / col("n"))
  }

  /** SQ8 reconstruction-error report — v44's quality metric for the
    * scalar quantizer (v17's index): how much L2 mass the 8-bit codes
    * destroy, the number a deployment compares against v44's PQ error
    * when choosing between the two layouts. The per-dimension residual
    * needs NO decode step: code = ((x−mn)·255) div rng means the
    * scale-255 reconstruction error is exactly `((x−mn)·255) mod rng`
    * (non-negative since mn is the min), so the whole report is one
    * map-only pass over the gallery after the same broadcast-sized
    * (min,max) stats pass v17 runs — zero joins, one O(1)-row
    * aggregate. Exact-Long headroom: residual < rng ≤ data range, so
    * per-vector error < 64·rng² (~2·10¹¹ here) stays Long-exact; the
    * CORPUS rollup rides Decimal(38,0) ≡ HUGEINT (the t23/e14
    * pattern — a Long sum would wrap silently past ~4·10⁷ vectors),
    * cast back to Long at the output where a true overflow turns
    * loudly null instead of wrapping. */
  def v47Sq8Error(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = emb(s, d).select(col("vec_id").cast("long").as("gid"),
      quantize(col("embedding")).as("v"))
    val stats = g.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("i").collect()
    val mns = stats.map(_.getLong(1))
    val rngs = stats.map(r => math.max(r.getLong(2) - r.getLong(1), 1L))
    val mnLit = array(mns.map(lit(_)).toIndexedSeq: _*)
    val rgLit = array(rngs.map(lit(_)).toIndexedSeq: _*)
    val resid = zip_with(
      zip_with(col("v"), mnLit, (x, mn) => (x - mn) * lit(255L)), rgLit,
      (num, rg) => pmod(num, rg))
    g.select(aggregate(resid, lit(0L), (a, b) => a + b * b).as("err"))
      .agg(count(lit(1)).as("n"), sum(col("err").cast(dec)).as("sum_err_d"),
        max("err").as("max_err"))
      .select(col("n"), col("sum_err_d").cast("long").as("sum_err"),
        col("max_err"),
        (col("sum_err_d").cast("long") / col("n")).as("mean_err"))
  }

  /** Inter-class centroid margins — per label, the nearest OTHER class
    * centroid and the squared distance to it (the class-separability
    * report read next to v19's compactness: margin ≪ compactness means
    * the labels aren't linearly separable in embedding space). All
    * arithmetic runs on (Σ, n) pairs so no float centroid ever exists:
    * d²(a,b) = Σ_i (s_ai·n_b − s_bi·n_a)² / (n_a·n_b)², numerator in
    * Decimal(38,0) ≡ HUGEINT (s·n ~ 10¹⁰ squares past Long), ONE
    * double division per pair at the end. The corpus collapses to an
    * O(L·dim) frame in one map-side-combined pass; the L² pair join
    * and the min(struct) argmin touch only label-sized frames. */
  def v48CentroidMargin(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = emb(s, d).select(col("label").cast("long").as("lab"),
      posexplode(quantize(col("embedding"))).as(Seq("i", "x")))
    val sums = g.groupBy("lab", "i").agg(sum("x").as("sv"))
    val cnt = emb(s, d).groupBy(col("label").cast("long").as("lab"))
      .agg(count(lit(1)).as("n"))
    val a = sums.join(cnt, "lab")
    val b = a.select(col("lab").as("lab_b"), col("i"),
      col("sv").as("sv_b"), col("n").as("n_b"))
    val diff = col("sv").cast(dec) * col("n_b").cast(dec) -
      col("sv_b").cast(dec) * col("n").cast(dec)
    val pairs = a.join(b, Seq("i"))
      .filter(col("lab") =!= col("lab_b"))
      .groupBy(col("lab"), col("lab_b"), col("n"), col("n_b"))
      .agg(sum(diff * diff).as("num"))
      .withColumn("d2", col("num").cast("double") /
        (col("n").cast(dec) * col("n").cast(dec) *
          col("n_b").cast(dec) * col("n_b").cast(dec)).cast("double"))
    pairs.groupBy(col("lab").as("label_id"), col("n"))
      .agg(min(struct(col("d2"), col("lab_b"))).as("m"))
      .select(col("label_id"), col("n"),
        col("m.lab_b").as("nearest_label"), col("m.d2").as("margin_d2"))
  }

  /** Binary-quantization recall — recall@5 of sign-bit codes vs v1's
    * exact L2 ranking: the eval that decides whether 1-bit/dim codes
    * (64 bits/vector — a 500× scan reduction over raw floats at
    * 100 TB) retrieve well enough for a first-stage filter. Codes pack
    * into ONE long via a bitwiseOR fold against a power-of-two literal
    * table (map-only); the scan is codegen'd bit_count(XOR) against
    * broadcast queries with v1's partial top-k; the oracle needs no
    * packing at all — it compares sign bits directly, so the packed
    * representation itself is gate-checked against the unpacked
    * semantics. Recall joins two O(Q·k) frames. */
  def v49BinaryRecall(s: SparkSession, d: String): DataFrame = {
    val pw = typedLit((0 until 64).map(i => 1L << i))
    val code = aggregate(
      zip_with(quantize(col("embedding")), pw,
        (x, p) => when(x >= 0, p).otherwise(0L)),
      lit(0L), (a, b) => a.bitwiseOR(b))
    val coded = emb(s, d)
      .select(col("vec_id").cast("long").as("gid"), code.as("code"))
    val q = coded.filter(col("gid") % 100 === 0)
      .select(col("gid").as("query_id"), col("code").as("qcode"))
    val scored = coded.join(broadcast(q))
      .select(col("query_id"), col("gid").as("neighbor_id"),
        bit_count(col("code").bitwiseXOR(col("qcode"))).cast("double")
          .as("hamming"))
    recallRow(v1KnnL2(s, d), TopK.perGroup(scored, "query_id",
      "neighbor_id", "hamming", k = 5, ascending = true))
  }

  /** PQ code-usage balance — per subspace, how many of the ksub=16
    * codebook entries are actually used and faiss's imbalance factor
    * over the code histogram (unused or skewed codes = wasted bits =
    * avoidable reconstruction error; this is the diagnostic that says
    * RETRAIN THE CODEBOOK before v44's error metric says it louder).
    * One posexplode + two map-side-combined rollups: corpus →
    * O(m·ksub) code counts → O(m) subspace rows; exact Longs, ONE
    * IEEE division per row (v37's formula with nlist = ksub). */
  def v51PqCodeBalance(s: SparkSession, d: String): DataFrame = {
    val (codes, _, _) = seededPqIndex(s, d)
    codes.select(posexplode(col("codes")).as(Seq("sub", "code")))
      .groupBy(col("sub").cast("long").as("sub"), col("code"))
      .agg(count(lit(1)).as("n"))
      .groupBy("sub")
      .agg(count(lit(1)).as("n_used"), sum("n").cast("long").as("n_total"),
        max("n").as("max_n"), min("n").as("min_n"),
        sum(col("n") * col("n")).cast("long").as("sum_sq"))
      .select(col("sub"), col("n_used"), col("max_n"), col("min_n"),
        ((lit(PqKsub.toLong) * col("sum_sq"))
          / (col("n_total") * col("n_total"))).as("imbalance"))
  }

  /** Two-stage retrieval — the canonical production ANN serving shape:
    * a cheap quantized index (v11's seeded PQ-ADC) proposes a top-20
    * shortlist per query, then the TRUE distance re-ranks the shortlist
    * to top-5. At 100 TB the first stage reads 8-byte codes instead of
    * raw vectors and the second touches only Q·20 full vectors — the
    * re-rank join broadcasts the shortlist (Q·20 rows by construction)
    * while the gallery streams through a pruned scan. */
  def v16Rerank(s: SparkSession, d: String): DataFrame = {
    val (codes, gq, book) = seededPqIndex(s, d)
    val queries = qembQueries(gq)
    val short = PqIndex
      .searchAdc(codes, queries, "id", "qemb", PqDim, PqM, book, k = 20)
      .select(col("query_id"), col("neighbor_id"))
    val g = emb(s, d).select(col("vec_id").cast("long").as("neighbor_id"),
      quantize(col("embedding")).as("gv"))
    // re-rank queries derive from the SAME frame the shortlist used
    // (qemb already holds the scale-10000 fixed-point values, so
    // quantize(_, 1) is the exact long cast) — one query-set definition
    val q = queries.select(col("id").as("query_id"),
      quantize(col("qemb"), 1).as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("d2"), col("neighbor_id"))
    g.join(broadcast(short), "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("d2", intL2Sq(col("gv"), col("qv")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        distFromIntSq(col("d2")).as("dist"))
  }

  /** Scalar-quantized (SQ8) search — the faiss IndexScalarQuantizer
    * twin: per-dimension (min, max) over the gallery (a 64-row aggregate
    * with map-side combine — each partition ships at most one partial
    * row per dimension), every vector encoded to 8-bit codes by exact
    * integer arithmetic, search runs on the 1-byte/dim codes through the
    * same broadcast × partial-top-k kernel as v1. 4× smaller scan than
    * raw fixed-point vectors at 100 TB, no index build beyond the stats
    * pass. */
  def v17Sq8Knn(s: SparkSession, d: String): DataFrame =
    sqKnn(s, d, levels = 255L)

  /** SQ4 search — v17 at 4 bits/dim (faiss `QT_4bit`): the SAME stats
    * pass and code-space kernel, 16 levels instead of 256, so the scan
    * reads HALF the code bytes of SQ8 (a nibble/dim packs 32 B/vector
    * at dim 64 — 8× smaller than raw fixed-point). The recall price of
    * the coarser grid is gated next to it (v83, the v60-style row), so
    * the byte-budget/recall trade is a measured pair, not a guess —
    * the ladder a 100 TB deployment actually walks when the SQ8 scan
    * is still memory-bound. */
  def v82Sq4Knn(s: SparkSession, d: String): DataFrame =
    sqKnn(s, d, levels = 15L)

  /** Shared scalar-quantizer search (v17 = 255 levels, v82 = 15): one
    * definition so the two gates cannot diverge in stats or encode
    * arithmetic. */
  private def sqKnn(s: SparkSession, d: String, levels: Long): DataFrame = {
    val coded = sqCodes(s, d, levels)
    // codes are already integers — knnL2Pre scans them directly instead
    // of re-running the (exact but wasted) scale-1 quantize per row
    KnnJoin.knnL2Pre(coded, coded.filter(col("gid") % 100 === 0),
      "gid", "cv", "gid", k = 5, scale = 1)
  }

  /** The SQ quantizer's per-dim (min, range) stats — the PERSISTED
    * trained artifact (faiss ScalarQuantizer.train's output, stored
    * like the PQ book — ADVICE r11): the full-corpus reduction over
    * 64 keys runs once into a fingerprinted store, and every later
    * caller — [[sqCodes]] full builds, v104's incremental ingest,
    * v101 (whose completeness bound is a function of the SAME ranges
    * the codes were built with) — READS the artifact, so "encode
    * under stored params, ingest never refits" holds by construction,
    * not coincidence. Broadcast-sized (64 rows) by contract. */
  private def sqStats(s: SparkSession, d: String)
      : (Array[Long], Array[Long]) = {
    val table = Store.name("graft_sq_stats", d)
    val stats = BucketedStore.ensure(s, table, {
      val g = emb(s, d).select(quantize(col("embedding")).as("v"))
      g.select(posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
    }, "i", numBuckets = 4).orderBy("i").collect()
    (stats.map(_.getLong(1)),
      stats.map(r => math.max(r.getLong(2) - r.getLong(1), 1L)))
  }

  /** The SQ encode expression under FIXED per-dim (min, range) params
    * — the trained-quantizer artifact applied per row, shared by
    * [[sqCodes]] (full builds) and v104 (incremental ingest, which
    * must encode new rows with the STORED params, never refit).
    * code_i = clamp(((x_i - mn_i) * levels) div rng_i, 0, levels).
    * num - (num mod rng) is an exact multiple of rng, so the double
    * division is exact before the long cast (num <= ~5.1e6 << 2^53).
    * The CLAMP defines out-of-domain inputs (ADVICE r11): a genuinely
    * new vector outside the stored [mn, mn+rng] encodes to the edge
    * code — identity on in-domain data, and it makes the pmod-based
    * floor division and DuckDB's truncating `//` agree for ALL
    * inputs (any negative num lands at code 0 under either rounding;
    * the oracle twin carries the same clamp). */
  private def sqEncodeCol(mns: Array[Long], rngs: Array[Long],
                          levels: Long)(vc: Column): Column = {
    val mnLit = array(mns.map(lit(_)).toIndexedSeq: _*)
    val rgLit = array(rngs.map(lit(_)).toIndexedSeq: _*)
    zip_with(
      zip_with(vc, mnLit, (x, mn) => (x - mn) * lit(levels)), rgLit,
      (num, rg) => greatest(lit(0L), least(lit(levels),
        ((num - pmod(num, rg)) / rg).cast("long"))))
  }

  /** The scalar-quantizer ENCODE pass: per-dim (min,max) stats over the
    * gallery → `levels+1`-level integer codes (gid, cv). Shared by the
    * rebuild-shape gates (v17/v82 via [[sqKnn]]) and the persisted
    * serving gate (v86), which stores this frame once. */
  private def sqCodes(s: SparkSession, d: String, levels: Long): DataFrame = {
    val e = emb(s, d)
    val g = e.select(col("vec_id").cast("long").as("gid"),
      quantize(col("embedding")).as("v"))
    val (mns, rngs) = sqStats(s, d)
    g.select(col("gid"), sqEncodeCol(mns, rngs, levels)(col("v")).as("cv"))
  }

  /** v104's merged SQ8 code frame — exposed to the spec (the v99
    * pattern): base store = pre-batch codes (gid % 4 ≠ 0) in the
    * fingerprinted bucketed layout; the arriving batch re-delivers the
    * full gallery, anti-joins the store by gid (zero store-side
    * exchange), and only new rows pay the map-only encode under the
    * STORED quantizer params — the scalar quantizer is TRAINED once
    * (its per-dim (min, range) table is the persisted artifact, faiss
    * ScalarQuantizer.train), so ingest never refits and merged ≡
    * rebuilt exactly. */
  private[graft] def upsertedSqCodes(s: SparkSession, d: String)
      : DataFrame = {
    val levels = 255L
    val (mns, rngs) = sqStats(s, d)
    val g = emb(s, d).select(col("vec_id").cast("long").as("gid"),
      quantize(col("embedding")).as("v"))
    val table = Store.name("graft_sq8_codes_base", d)
    val enc = sqEncodeCol(mns, rngs, levels) _
    val base = BucketedStore.ensure(s, table,
      g.filter(col("gid") % 4 =!= 0)
        .select(col("gid"), enc(col("v")).as("cv")),
      "gid", numBuckets = 32)
    val newRows = g.join(base.hint("merge"),
      g("gid") === base("gid"), "left_anti")
    base.unionByName(
      newRows.select(col("gid"), enc(col("v")).as("cv")))
  }

  /** Incremental ingest into the persisted SQ8 code store — v99's
    * contract for the SCALAR quantizer (the second of the three
    * round-10 store families that rebuilt on new data): the quantizer
    * params are the trained persisted artifact, new vectors encode
    * per-row under them, and the code-space search serves the union.
    * Merged ≡ rebuilt exactly, so the oracle is v17/v86's SQ-KNN SQL
    * VERBATIM (the transparency gate). At 100 TB a daily ingest is an
    * O(batch) bucketed probe + O(batch) map-only encode against a
    * ~4×-smaller-than-raw store that is never rewritten. */
  def v104SqStoreUpsert(s: SparkSession, d: String): DataFrame = {
    val merged = upsertedSqCodes(s, d)
    KnnJoin.knnL2Pre(merged, merged.filter(col("gid") % 100 === 0),
      "gid", "cv", "gid", k = 5, scale = 1)
  }

  /** v17's SQ8 search served from PERSISTED codes — the scalar
    * quantizer's persist-once/serve-many gate (the v66/v67 pattern,
    * completing the serving matrix: IVF v66, IVFPQ v67, graph v64,
    * segments v77). The per-dim (min,max) stats pass — a full-corpus
    * reduction — and the encode run ONCE at build time; serving scans
    * the stored 1-byte/dim codes with zero stats recompute. At 100 TB
    * the codes table is ~4× smaller than the raw fixed-point vectors
    * and the build is amortized over every query batch. The source
    * fingerprint in the table name mints a fresh code table when the
    * data regenerates. Oracle = v17's SQL verbatim — the gate proves
    * code persistence is bit-transparent. */
  def v86Sq8Persisted(s: SparkSession, d: String): DataFrame = {
    val table = Store.name("graft_sq8_codes", d)
    val coded = BucketedStore.ensure(s, table,
      sqCodes(s, d, levels = 255L), "gid", numBuckets = 32)
    KnnJoin.knnL2Pre(coded, coded.filter(col("gid") % 100 === 0),
      "gid", "cv", "gid", k = 5, scale = 1)
  }

  /** IVFPQ search under the hard gate: seed centroids (first 10 full
    * vectors, as in v6) route queries to nprobe=2 partitions; seeded
    * PQ codebooks (as in v11) rank the pruned candidates by ADC. All
    * fixed-point-exact, so the DuckDB twin reconstructs the identical
    * index. The composite is the canonical billion-scale layout:
    * partition pruning × 32-byte codes ≈ read nprobe/nlist of 1/16th
    * the bytes. */
  def v13IvfPqSearch(s: SparkSession, d: String): DataFrame = {
    val g = qembGallery(s, d)
    val book = PqIndex.seededBook(g, "id", "qemb", PqDim, PqM, PqKsub)
    val cents = qembSeedCents(g)
    seededIvfpqServe(seededIvfpqCodes(g, cents, book), cents, book, g)
  }

  /** The first 10 vectors of an (id, qemb) gallery as (cid, qemb)
    * coarse centroids (v6's seed rule on the fixed-point gallery). */
  private def qembSeedCents(g: DataFrame): DataFrame =
    g.filter(col("id") < 10).select(col("id").as("cid"), col("qemb"))

  /** v13's index build: PQ codes joined to the coarse assignment
    * (scale = 1: the gallery is already integer-valued), as
    * (id, codes, centroid_id). */
  private def seededIvfpqCodes(g: DataFrame, cents: DataFrame,
                               book: Seq[PqIndex.Codebook]): DataFrame =
    PqIndex.encode(g, "id", "qemb", PqDim, PqM, book)
      .join(IvfIndex.assign(g, cents, "id", "qemb", "cid", scale = 1)
        .select(col("id"), col("centroid_id")), Seq("id"))

  /** v13's serve, shared with v67: nprobe = 2 IVFPQ (non-residual)
    * ADC top-5 of `g`'s queries. */
  private def seededIvfpqServe(codes: DataFrame, cents: DataFrame,
                               book: Seq[PqIndex.Codebook],
                               g: DataFrame): DataFrame =
    unscaled(IvfPq.search(codes, cents, qembQueries(g), "cid", "id",
      "qemb", PqDim, PqM, book, k = 5, nprobe = 2, scale = 1))


  /** RESIDUAL IVFPQ search under the hard gate — faiss IndexIVFPQ's
    * DEFAULT semantics (by_residual=true): PQ codes quantize
    * v − centroid(v) rather than v, so codebook resolution concentrates
    * on the within-partition delta (the reason it is the production
    * default). Construction mirrors v13's oracle-reconstructible
    * recipe: seed centroids are the first 10 vectors, residual
    * codebooks are the RESIDUALS of the first 16 vectors, all
    * arithmetic fixed-point-exact. Plan shape: map-only residual
    * encode; probe routing on the driver (queries and centroids are
    * broadcast-sized); per-(query, probed-centroid) positional lookup
    * tables in the broadcast probe frame; no exchange before the
    * O(Q·k) top-k. */
  def v21IvfPqResidual(s: SparkSession, d: String): DataFrame = {
    val g = qembGallery(s, d)
    val cents = qembSeedCents(g)
    val res = IvfPq.residuals(g, cents, "id", "qemb", "cid", scale = 1)
    val book = PqIndex.seededBook(res, "id", "rvec", PqDim, PqM, PqKsub)
    val codes = IvfPq.encodeResidual(g, cents, "id", "qemb", "cid",
      PqDim, PqM, book, scale = 1)
    ivfpqServe(codes, cents, book, g)
  }

  /** KNN hits joined to the full (path, label, category) metadata triple
    * of the reference (precompute_features.py:192-213, app.py:171-174).
    * The category dim arrives through the REAL JSON ingest path: a
    * train_val.json-shaped file is written from the label domain and
    * read back via GalleryMetadata (spark.read.json + posexplode), then
    * broadcast-joined to the hits — category lists are tiny by
    * definition. */
  def v12KnnCategory(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val maxLabel = e.agg(max(col("label").cast("long"))).collect()(0)
      .getLong(0)
    // fixture generation lives in the fixture layer (idempotent +
    // memoized) — the query itself is a pure plan over the JSON input
    val jsonPath = graft.sources.CategoryFixture.ensure(maxLabel)
    val cats = graft.sources.GalleryMetadata.readCategories(s, jsonPath)
    val meta = e.select(col("vec_id").cast("long").as("id"),
      col("label").cast("long").as("lab"))
    val hits = v1KnnL2(s, d).select("query_id", "rnk", "neighbor_id")
    meta.join(broadcast(hits), col("id") === col("neighbor_id"))
      .join(broadcast(cats), col("lab") === col("label"))
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        concat(lit("img_"), col("neighbor_id").cast("string"),
          lit(".png")).as("path"),
        col("lab").as("label_id"), col("category"))
  }

  /** Nearest-class-mean classifier: per-label mean embedding (exact —
    * the mean is carried as (sum vector, count) and distances compare
    * via the n^2-scaled integer form), each query assigned its nearest
    * centroid. The label-assignment twin of the reference's KNN vote. */
  def v14ClassCentroid(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Centroids.nearestClassMean(e, "vec_id", "label", "embedding",
      queryVecs(e))
  }

  /** Seed assignment for the Lloyd rounds: every vector argmin-assigned
    * to the 10 seed centroids, carried as (id, qv, c). */
  private def lloydSeedAssign(e: DataFrame): DataFrame =
    IvfIndex.assign(e, seedCentroids(e), "vec_id", "embedding", "cid")
      .select(col("id"), quantize(col("vec")).as("qv"),
        col("centroid_id").as("c"))

  /** ONE exact Lloyd reassignment over (id, qv, c): collect the
    * broadcast-sized (n, sum-vector) per current cluster, re-assign
    * every vector by the scaled-distance trick `sqrt(A)/(n·scale)`
    * with `A = Σ(n·q_i − s_i)²` in Decimal(38,0) — no float centroid
    * ever exists, so the round is bit-portable. Returns
    * (id, qv, c_prev, c). Plan per round: one (cluster, dim)-keyed
    * map-side-combined aggregate + one map-only literal argmin —
    * zero data-sized shuffles. */
  private def lloydRound(cur: DataFrame): DataFrame = {
    val cs = collectClassSums(cur)
    cur.select(col("id"), col("qv"), col("c").as("c_prev"),
      graft.plans.GridArgmin.nearestLab(col("qv"), cs,
        DefaultScale.toLong).as("c"))
  }

  /** The broadcast-sized (lab, n, sum-vector) table of the current
    * assignment — the EXACT carrier of a trained centroid (never
    * divided into a float mean). Shared by the round iteration and
    * v65's add/route steps so the trained quantizer cannot drift
    * between training and serving. */
  private def collectClassSums(cur: DataFrame)
      : Array[(Long, Long, Array[Long])] =
    Centroids.classSums(cur, "c", "qv")
      .select(col("lab"), col("n"), col("svec")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
      .sortBy(_._1)

  // The scaled-distance argmin dist = sqrt(Σ(n·q_i − s_i)²)/(n·scale)
  // — the v14/v18 exactness trick — previously rode Decimal(38,0)
  // Catalyst candidate structs here (~nlist·dim Decimal ops PER ROW
  // per round); it now runs in [[graft.plans.GridNearestLabs]], the
  // zero-allocation int128 kernel with bit-identical value semantics
  // (Int128ArgminSpec proves the equivalence on overflow-adjacent
  // inputs, and the gate hashes are unchanged at both SFs).

  /** TRAINED-quantizer IVF search — the full faiss scale path in ONE
    * gated chain (train → add → search, faiss_utils.py:4-22 semantics):
    * v26's three exact Lloyd rounds produce the trained coarse
    * quantizer, the ADD step argmin-assigns every gallery vector to its
    * nearest TRAINED centroid (one more scaled-distance round — the
    * same arithmetic, so the oracle's round template covers it), and
    * each query routes to its nprobe=2 nearest trained centroids before
    * the exact top-5 within probed lists. Closes the seeded-vs-trained
    * fidelity gap: v7 searches seed centroids; this searches what Lloyd
    * actually converged to. Scale shape: training collects only the
    * O(nlist·dim) (n, sum) table per round; add/route are map-only
    * literal argmins; the probe join broadcasts the O(Q·nprobe) probe
    * frame while the gallery streams; the only exchange is the O(Q·k)
    * partial top-k. */
  def v65TrainedIvfSearch(s: SparkSession, d: String): DataFrame = {
    val cs = trainedCoarseSums(s, d)
    val g = emb(s, d).select(col("vec_id").cast("long").as("id"),
      quantize(col("embedding")).as("qv"))
    // ADD: assign the gallery to the trained centroids (asn4 in the
    // oracle — one more application of the shared round template)
    val added = g.select(col("id"), col("qv"),
      graft.plans.GridArgmin.nearestLab(col("qv"), cs,
        DefaultScale.toLong).as("c"))
    trainedIvfServe(added, g, cs)
  }

  /** DETERMINISTIC k-means++ selection (v124's engine): the exact
    * inverse-CDF D²-mass draw with seeded rational thresholds, run on
    * the BOUNDED hash-ordered sample (Sampling.KppSampleSize = 256·k,
    * faiss's subsampled-training contract). Round 0 picks the uniform
    * first seed at rank ⌊n·u₀⌋; each later round computes every sample
    * point's exact integer D² to its nearest selected seed, orders the
    * sample by (portableHash, id), and picks the FIRST point whose
    * running D² prefix sum satisfies cum·2³¹ > T·a_r (all BigInt — no
    * float ever compares), i.e. the point the CDF inverse lands on at
    * u_r = a_r/2³¹. Points with larger D² own wider CDF intervals —
    * the ++ weighting — and selected points (D² = 0) are zero-width,
    * never re-chosen. Returns the selection trace (rank, vec_id,
    * total D² mass before the pick; 0 for the uniform first pick).
    * The distributed part is ONE bounded TakeOrdered sample scan; the
    * O(k·sample·dim) selection itself runs on the collected sample —
    * exactly where faiss runs it. Oracle = the same sample, prefix
    * sums, and thresholds in SQL (windows over the BOUNDED sample
    * only); spec replays the selection independently. */
  private[graft] def kmeansppSeedTrace(s: SparkSession, d: String)
      : IndexedSeq[(Long, Long, Long)] = {
    val sample = emb(s, d)
      .select(col("vec_id").cast("long").as("id"),
        quantize(col("embedding")).as("qv"))
      .withColumn("h", Sampling.portableHash(col("id")))
      .orderBy(col("h"), col("id")).limit(Sampling.KppSampleSize)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val n = sample.length
    require(n >= 10, s"k-means++ sample too small: $n")
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var i = 0; var acc = 0L
      while (i < a.length) { val dd = a(i) - b(i); acc += dd * dd; i += 1 }
      acc
    }
    val two31 = BigInt(2147483648L)
    val first = ((BigInt(n) * Sampling.kppThreshold(0)) / two31).toInt
    var seeds = Vector((1L, sample(first)._1, 0L))
    val dmin = sample.map(p => d2(p._2, sample(first)._2))
    for (r <- 1 to 9) {
      val t = dmin.foldLeft(BigInt(0))(_ + BigInt(_))
      require(t > 0, "k-means++ degenerate sample: zero D² mass")
      val ar = BigInt(Sampling.kppThreshold(r))
      var cum = BigInt(0); var chosen = -1; var i = 0
      while (chosen < 0) {
        cum += dmin(i)
        if (cum * two31 > t * ar) chosen = i
        i += 1
      }
      seeds = seeds :+ ((r + 1).toLong, sample(chosen)._1, t.toLong)
      var j = 0
      while (j < n) {
        dmin(j) = math.min(dmin(j), d2(sample(j)._2, sample(chosen)._2))
        j += 1
      }
    }
    seeds
  }

  /** k-means++ (D²-weighted) seeding as a gated row — the selection
    * trace (rank, vec_id, mass) of [[kmeansppSeedTrace]], closing the
    * last train-fidelity gap to faiss's init family (v41/v84 gate
    * maximin/Gonzalez; faiss Clustering's default init is SAMPLED
    * k-means++ — this is that draw with the seeded-literal PRNG).
    * The `mass` column is the exact total D² before each pick — the
    * convergence diagnostic an operator reads off a ++ run. */
  def v124KmeansppSeeds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    kmeansppSeedTrace(s, d).toDF("rnk", "vec_id", "mass")
  }

  /** v26's Lloyd chain FROM the k-means++ seeds — v65's full
    * train→add→search composition with asn0 = the assignment to
    * v124's selected seed vectors instead of the min-id seeds, so the
    * (v65, v128) pair measures what ++ initialization buys the
    * trained quantizer at equal rounds. Identical scale shape to v65:
    * the selection adds one bounded sample scan; each round collects
    * only the O(nlist·dim) (n, Σ) table; add/route are map-only;
    * serving is the broadcast-probe partial top-k. */
  def v128KmeansppTrain(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val ids = kmeansppSeedTrace(s, d).map(_._2)
    val seedDf = e.filter(col("vec_id").cast("long").isin(ids: _*))
      .select(col("vec_id").cast("long").as("cid"), col("embedding"))
    var cur = IvfIndex.assign(e, seedDf, "vec_id", "embedding", "cid")
      .select(col("id"), quantize(col("vec")).as("qv"),
        col("centroid_id").as("c"))
    for (_ <- 1 to 3) cur = lloydRound(cur).localCheckpoint(false)
    val cs = collectClassSums(cur)
    val g = e.select(col("vec_id").cast("long").as("id"),
      quantize(col("embedding")).as("qv"))
    val added = g.select(col("id"), col("qv"),
      graft.plans.GridArgmin.nearestLab(col("qv"), cs,
        DefaultScale.toLong).as("c"))
    trainedIvfServe(added, g, cs)
  }

  /** The TRAINED coarse quantizer as its exact (lab, n, sum-vector)
    * carrier: v26's three Lloyd rounds from the seed assignment, sums
    * collected (broadcast-sized by contract). Shared by the
    * rebuild-shape gates (v65/v68, train per run) and the persisted
    * gates (v90/v91, which store this table once) so training
    * arithmetic is one definition. */
  private def trainedCoarseSums(s: SparkSession, d: String)
      : Array[(Long, Long, Array[Long])] = {
    var cur = lloydSeedAssign(emb(s, d))
    for (_ <- 1 to 3) cur = lloydRound(cur).localCheckpoint(false)
    collectClassSums(cur)
  }

  /** v65's ROUTE + probe-scan + top-k over an already-ADDed trained
    * index (id, qv, c): each query routes to its `nprobe` nearest
    * trained centroids by the shared scaled distance (the k=nprobe
    * form of the int128 argmin kernel — lexicographic (dist, lab),
    * matching the oracle's ORDER BY), the probe frame broadcasts, the
    * index streams. Shared by v65 (in-memory ADD), v90 (persisted
    * ADD), and v97's nprobe sweep over the persisted store. */
  private def trainedIvfServe(added: DataFrame, queryVecs: DataFrame,
                              cs: Array[(Long, Long, Array[Long])],
                              nprobe: Int = 2)
      : DataFrame = {
    val labs =
      if (nprobe == 1)
        array(graft.plans.GridArgmin.nearestLab(col("qv"), cs,
          DefaultScale.toLong))
      else graft.plans.GridArgmin.nearestLabs(col("qv"), cs,
        DefaultScale.toLong, k = nprobe)
    val probes = queryVecs.filter(col("id") % 100 === 0)
      .select(col("id").as("query_id"), col("qv").as("qvec"),
        explode(labs).as("pc"))
    KnnJoin.rankPairs(
      added.join(broadcast(probes), col("c") === col("pc"))
        .select(col("query_id"), col("id").as("neighbor_id"),
          col("qv").as("gv"), col("qvec").as("qv")), k = 5)
  }

  /** The persisted trained-centroid carrier (lab, n, svec) collected
    * from (or first built into) the fingerprinted bucketed store —
    * v90's training artifact factored out so the monolithic ADD
    * (trainedIvfStore), v112's SEGMENTED ADD, and v111's warm-restart
    * retrain all read the SAME stored quantizer. Broadcast-sized
    * (O(nlist·dim)) by contract. */
  private def trainedCentsStored(s: SparkSession, d: String)
      : Array[(Long, Long, Array[Long])] = {
    val centsDf = BucketedStore.ensure(s,
      Store.name("graft_ivf_tcents", d), {
        import s.implicits._
        trainedCoarseSums(s, d).toIndexedSeq
          .map { case (lab, n, sv) => (lab, n, sv.toSeq) }
          .toDF("lab", "n", "svec")
      }, "lab", numBuckets = 4)
    centsDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
      .sortBy(_._1)
  }

  /** v90's build path factored out: the persisted trained-IVF store
    * (trained sums table + ADDed gallery PARTITIONED BY trained list)
    * plus the quantized gallery and the collected centroid carrier —
    * shared by v90 (nprobe=2 serving) and v97 (the nprobe sweep, which
    * must read the SAME store so the curve measures routing depth, not
    * training variance). */
  private def trainedIvfStore(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Array[(Long, Long, Array[Long])]) = {
    val cs = trainedCentsStored(s, d)
    val g = emb(s, d).select(col("vec_id").cast("long").as("id"),
      quantize(col("embedding")).as("qv"))
    // the ADD step also stores the filterable metadata column INLINE
    // (the production filtered-ANN layout: v98's predicate pushes into
    // the partition-pruned scan instead of joining back to the source
    // table). Path tag v2: the pre-round-10 layout lacked `label`.
    val path = Store.name("/tmp/graft_tivfidx2", d)
    Store.ensurePath(path) { tmp =>
      // a tag bump strands the previous layout's stores (ADVICE r10):
      // reclaim every v1-tag dir for this corpus when the v2 store is
      // first built — nothing reads the old tag after this release.
      // ("graft_tivfidx_" cannot match the v2 tag "graft_tivfidx2_".)
      Store.deleteStaleStores("graft_tivfidx", d)
      emb(s, d).select(col("vec_id").cast("long").as("id"),
          quantize(col("embedding")).as("qv"),
          col("label").cast("long").as("label"))
        .withColumn("c", graft.plans.GridArgmin.nearestLab(col("qv"), cs,
          DefaultScale.toLong))
        .write.mode("overwrite").partitionBy("c").parquet(tmp)
    }
    val added = Tables.ensureParallelism(s.read.parquet(path), Some(path))
      .select(col("id"), col("qv"), col("label"),
        col("c").cast("long").as("c"))
    (added, g, cs)
  }

  /** v65's trained-IVF search served from a PERSISTED trained index —
    * the flat-IVF member of the trained persist-once/serve-many family
    * (v87 = PQ, v91 = IVFPQ): the three Lloyd rounds persist their
    * exact (lab, n, sum-vector) carrier into a fingerprinted bucketed
    * table, the ADD step persists the assigned gallery PARTITIONED BY
    * trained list (v66's pruning layout), and serving collects the
    * tiny sums table, rebuilds the literal route candidates, and
    * probe-joins the stored index with ZERO training jobs. At 100 TB
    * the nprobe=2 probe reads 2/nlist of the stored bytes via
    * partition pruning and training is amortized over every query
    * batch. Oracle = v65's SQL VERBATIM (bit-transparent persistence,
    * the v66/v86 contract). */
  def v90TrainedIvfPersisted(s: SparkSession, d: String): DataFrame = {
    val (added, g, cs) = trainedIvfStore(s, d)
    trainedIvfServe(added, g, cs)
  }

  /** The warm-restart refresh state: ONE exact Lloyd round seeded
    * from the PERSISTED trained assignment — the (n, Σ) carrier of
    * the stored round-4 state (collectClassSums over the store's `c`
    * column, NEVER the seeds) and the map-only reassignment under it.
    * Exposed to the spec so "the warm state derives from the store"
    * is provable against an independent recompute of the stored
    * partitions' sums. */
  private[graft] def warmRetrainState(s: SparkSession, d: String)
      : (DataFrame, Array[(Long, Long, Array[Long])]) = {
    val (added, _, _) = trainedIvfStore(s, d)
    val cur = added.select(col("id"), col("qv"), col("c"))
    val cs5 = collectClassSums(cur)
    (cur.select(col("id"), col("qv"),
      graft.plans.GridArgmin.nearestLab(col("qv"), cs5,
        DefaultScale.toLong).as("c")), cs5)
  }

  /** WARM-RESTART retrain — the staged re-index v70 SIZES but nothing
    * executed until now: one incremental exact Lloyd round seeded
    * from the PERSISTED trained centroids over base+batch (the stored
    * index's assignment column IS the round-4 state, so the refresh
    * is collectClassSums over the store + one map-only reassignment —
    * training never restarts from seeds), then v65's probe serve from
    * the refreshed centroids and refreshed lists. Because the shared
    * round template composes, the oracle is the SAME Lloyd CTE
    * template at depth 5 — the warm round needs no new arithmetic,
    * which is exactly the retrain contract (warm ≡ cold + one round).
    * Scale shape: the refresh collects only the O(nlist·dim) (n, Σ)
    * table and reassigns map-only (one scan); serving is v65's
    * broadcast-probe + partial top-k. At 100 TB the warm round costs
    * one scan of the stored index instead of the full from-seeds
    * training job — the staged rollout v70's drift matrix decides. */
  def v111IncrementalRetrain(s: SparkSession, d: String): DataFrame = {
    val (refreshed, cs5) = warmRetrainState(s, d)
    val g = emb(s, d).select(col("vec_id").cast("long").as("id"),
      quantize(col("embedding")).as("qv"))
    trainedIvfServe(refreshed, g, cs5)
  }

  /** SEGMENT-MERGE serving for the TRAINED IVF store — v77's
    * persist-SEGMENTED contract pointed at v90's trained family: the
    * corpus lands in two parity-split segment stores (the rolling
    * per-snapshot build a 100 TB trained index actually ships — each
    * day's data becomes its own segment until compaction), each
    * segment assigned under the SAME stored trained quantizer and
    * persisted PARTITIONED BY trained list, and serving unions the
    * segment scans behind v65's probe join. Coarse assignment is
    * per-row under fixed stored centroids, so merged ≡ monolithic
    * EXACTLY — oracle = v65's SQL VERBATIM (the v77/v80 transparency
    * argument: the gate proves the segmented layout, not a new
    * ranking). At 100 TB each probe prunes to nprobe/nlist of EACH
    * segment (partition pruning survives the union), and a new
    * snapshot costs one O(segment) assignment job, never a store
    * rewrite. */
  def v112TrainedSegmentServe(s: SparkSession, d: String): DataFrame = {
    val cs = trainedCentsStored(s, d)
    def segment(par: Int): DataFrame = {
      val path = Store.name(s"/tmp/graft_tivfseg$par", d)
      Store.ensurePath(path) { tmp =>
        emb(s, d).filter(col("vec_id") % 2 === par)
          .select(col("vec_id").cast("long").as("id"),
            quantize(col("embedding")).as("qv"),
            col("label").cast("long").as("label"))
          .withColumn("c", graft.plans.GridArgmin.nearestLab(col("qv"),
            cs, DefaultScale.toLong))
          .write.mode("overwrite").partitionBy("c").parquet(tmp)
      }
      Tables.ensureParallelism(s.read.parquet(path), Some(path))
        .select(col("id"), col("qv"), col("c").cast("long").as("c"))
    }
    val merged = segment(0).unionByName(segment(1))
    val g = emb(s, d).select(col("vec_id").cast("long").as("id"),
      quantize(col("embedding")).as("qv"))
    trainedIvfServe(merged, g, cs)
  }

  /** FILTERED trained-IVF search — the metadata-predicate variant of
    * v90 (label % 3 = 0, v15's predicate), completing the filtered-ANN
    * matrix across index families: flat (v15), seeded IVF (v58),
    * graph beam (v85) — and now the TRAINED quantizer, the index a
    * production deployment actually serves. The filterable column is
    * stored INLINE in the persisted index at ADD time (the faiss
    * IDSelector story done the engine way), so the predicate pushes
    * into the partition-pruned parquet scan: a query batch reads
    * nprobe/nlist of the stored bytes AND the scan skips non-matching
    * rows before the distance kernel — no join back to the source
    * table, no post-filter recall loss (candidates are filtered
    * BEFORE the top-k, v58's contract). Serving is v90's
    * trainedIvfServe verbatim over the filtered scan. */
  def v98FilteredTrainedIvf(s: SparkSession, d: String): DataFrame = {
    val (added, g, cs) = trainedIvfStore(s, d)
    trainedIvfServe(added.filter(col("label") % 3 === 0), g, cs)
  }

  /** FILTERED trained-ANN quality — v59's recall row for v98,
    * closing the eval-matrix convention (every serving twin gets a
    * measured quality row): recall@5 of the inline-predicate trained
    * serve vs the FILTERED exact scan (v15's chain at the SAME
    * predicate, label % 3 = 0 — the exact side must rank only
    * eligible candidates or the row would punish the filter instead
    * of the index). Approx side serves from v90's persisted trained
    * index through v98's pushed-predicate scan; both inputs are gated
    * O(Q·k) frames → broadcast join + tiny aggregate. */
  def v100FilteredTrainedRecall(s: SparkSession, d: String): DataFrame =
    recallRow(v15FilteredKnn(s, d), v98FilteredTrainedIvf(s, d))

  /** TRAINED-IVF nprobe/recall curve — v46's sweep pointed at the
    * trained quantizer: recall@5 vs the exact scan at nprobe ∈
    * {1, 2, 4}, every point served from v90's PERSISTED trained index
    * (training runs zero times per point — the curve isolates routing
    * depth, the knob a deployment actually turns; faiss tunes
    * IndexIVF.nprobe exactly this way). Completes the tuning-surface
    * matrix: seeded IVF has (v46 recall × v55 cost), the graph family
    * has v96's ef curve, and the trained quantizer had only v92's
    * single nprobe=2 point — which the spec proves sits ON this
    * curve. Scale shape: each point is ONE probe-pruned scan of
    * nprobe/nlist of the stored bytes + the O(Q·k) partial top-k; the
    * eval joins two O(Q·k) frames. Counts exact Longs, ONE IEEE
    * division per row. */
  def v97TrainedProbeCurve(s: SparkSession, d: String): DataFrame = {
    val (added, g, cs) = trainedIvfStore(s, d)
    val exact = v1KnnL2(s, d)
      .select(col("query_id").as("qx"), col("neighbor_id"))
      .localCheckpoint(false)
    Seq(1, 2, 4).map { np =>
      val approx = trainedIvfServe(added, g, cs, nprobe = np)
        .select(col("query_id").as("qa"), col("neighbor_id").as("na"))
      exact.join(broadcast(approx),
          col("qx") === col("qa") && col("neighbor_id") === col("na"),
          "left")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("na").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        .select(lit(np.toLong).as("nprobe"), col("n_hit"), col("n_total"))
    }.reduce(_ unionByName _)
      .withColumn("recall", col("n_hit") / col("n_total"))
  }

  /** TRAINED residual IVFPQ — faiss IndexIVFPQ's actual production
    * construction (train THEN encode, by_residual=true,
    * faiss_utils.py:4-22): v26's three exact Lloyd rounds train the
    * coarse quantizer, the converged (n, Σ) mean is FLOORED onto the
    * fixed-point grid (c_i = floor(s_i / n) via one deterministic IEEE
    * division — both engines compute the identical double then the
    * identical floor, and a grid-snapped centroid is exactly what a
    * fixed-point deployment ships), and from there v21's
    * integer-exact residual machinery applies verbatim: residuals vs
    * the trained centroids, seeded residual codebooks, map-only
    * encode, driver-routed nprobe=2 probes, integer ADC. Closes the
    * trained-vs-seeded gap for the COMPRESSED index the way v65
    * closes it for flat IVF. Scale shape: training collects only the
    * O(nlist·dim) (n, sum) table per round; the centroid table is a
    * 10-row literal; encode is map-only; the only exchange is the
    * O(Q·k) partial top-k. */
  def v68TrainedIvfPq(s: SparkSession, d: String): DataFrame = {
    val centRows = trainedCoarseSums(s, d).map { case (lab, n, svec) =>
      (lab, svec.toIndexedSeq.map(si => math.floor(si.toDouble / n)))
    }.toIndexedSeq
    import s.implicits._
    val cents = centRows.toDF("cid", "qemb")
    val g = qembGallery(s, d)
    val res = IvfPq.residuals(g, cents, "id", "qemb", "cid", scale = 1)
    val book = PqIndex.seededBook(res, "id", "rvec", PqDim, PqM, PqKsub)
    val codes = IvfPq.encodeResidual(g, cents, "id", "qemb", "cid",
      PqDim, PqM, book, scale = 1)
    ivfpqServe(codes, cents, book, g)
  }

  /** v91's persisted trained artifacts — the grid-floored coarse
    * centroid table, the residual codebook, and the gallery in encode
    * form — shared by v91 (full partitioned code store) and v105 (the
    * incremental-ingest twin), so both read the SAME fingerprinted
    * bucketed tables. */
  private def trainedIvfpqArtifacts(s: SparkSession, d: String)
      : (DataFrame, Seq[PqIndex.Codebook], DataFrame) = {
    val centsDf = BucketedStore.ensure(s,
      Store.name("graft_ivfpq_tcents", d), {
        import s.implicits._
        trainedCoarseSums(s, d).map { case (lab, n, svec) =>
          (lab, svec.toIndexedSeq.map(si => math.floor(si.toDouble / n)))
        }.toIndexedSeq.toDF("cid", "qemb")
      }, "cid", numBuckets = 4)
    val g = qembGallery(s, d)
    val bookDf = BucketedStore.ensure(s,
      Store.name("graft_ivfpq_tbook", d), {
        import s.implicits._
        PqIndex.seededBook(
          IvfPq.residuals(g, centsDf, "id", "qemb", "cid", scale = 1),
          "id", "rvec", PqDim, PqM, PqKsub).toDF("sub", "cid", "centroid")
      }, "sub", numBuckets = 4)
    val book = bookDf.collect().toIndexedSeq.map(r =>
      PqIndex.Codebook(r.getAs[Int]("sub"), r.getAs[Int]("cid"),
        r.getSeq[Double](r.fieldIndex("centroid"))))
    (centsDf, book, g)
  }

  /** v105's merged residual-code frame (the v99 pattern on the IVFPQ
    * family): base store = pre-batch residual codes (id % 4 ≠ 0) in a
    * fingerprinted id-bucketed table; the batch re-delivers the full
    * gallery, anti-joins the store (zero store-side exchange), and
    * only new ids pay the map-only residual encode against the
    * PERSISTED trained centroids + codebook — coarse assignment and
    * sub-quantizer encode are both per-row under fixed artifacts, so
    * merged ≡ rebuilt exactly. */
  private[graft] def upsertedIvfpqCodes(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Seq[PqIndex.Codebook], DataFrame) = {
    val (centsDf, book, g) = trainedIvfpqArtifacts(s, d)
    val base = BucketedStore.ensure(s,
      Store.name("graft_ivfpq_tcodes_base", d),
      IvfPq.encodeResidual(g.filter(col("id") % 4 =!= 0), centsDf,
        "id", "qemb", "cid", PqDim, PqM, book, scale = 1),
      "id", numBuckets = 32)
    val newRows = g.join(base.hint("merge"),
      g("id") === base("id"), "left_anti")
    val newCodes = IvfPq.encodeResidual(newRows, centsDf,
      "id", "qemb", "cid", PqDim, PqM, book, scale = 1)
    (base.unionByName(newCodes), centsDf, book, g)
  }

  /** Incremental ingest into the persisted trained-IVFPQ code store —
    * v99's contract for the COMPRESSED probe index (the last of the
    * three round-10 store families): batch anti-joins the bucketed
    * store, new vectors pay the per-row residual encode under the
    * persisted trained centroids + books, and the nprobe=2 residual-
    * ADC search serves the union. Merged ≡ rebuilt exactly, so the
    * oracle is v68's trained residual-IVFPQ SQL VERBATIM. (v91 gates
    * the partition-pruned SERVING layout of the same store family;
    * this key gates the INGEST math — production ships both: a
    * list-partitioned store plus an id-keyed membership sidecar.) */
  def v105IvfpqStoreUpsert(s: SparkSession, d: String): DataFrame = {
    val (merged, centsDf, book, g) = upsertedIvfpqCodes(s, d)
    ivfpqServe(merged, centsDf, book, g)
  }

  /** SEGMENT-MERGE serving for the TRAINED IVFPQ store — v112's
    * rolling-build contract on the COMPRESSED family (completing
    * verdict #3's pair: v112 = flat trained IVF, v116 = residual
    * IVFPQ): two parity-split segments, each residual-encoded under
    * the SAME persisted trained centroids + codebook and persisted
    * PARTITIONED BY coarse list (v91's layout per segment), unioned
    * at serve behind the nprobe=2 residual-ADC probe. Residual encode
    * is per-row under fixed artifacts, so merged ≡ monolithic
    * EXACTLY — oracle = v68's SQL VERBATIM. At 100 TB each probe
    * prunes to nprobe/nlist of EACH segment's 9-byte code rows, and a
    * snapshot ingest costs one O(segment) encode job, never a store
    * rewrite. */
  def v116IvfpqSegmentServe(s: SparkSession, d: String): DataFrame = {
    val (centsDf, book, g) = trainedIvfpqArtifacts(s, d)
    def segment(par: Int): DataFrame = {
      val path = Store.name(s"/tmp/graft_tpqseg$par", d)
      Store.ensurePath(path) { tmp =>
        IvfPq.encodeResidual(g.filter(col("id") % 2 === par), centsDf,
            "id", "qemb", "cid", PqDim, PqM, book, scale = 1)
          .write.mode("overwrite").partitionBy("centroid_id")
          .parquet(tmp)
      }
      Tables.ensureParallelism(s.read.parquet(path), Some(path))
    }
    val merged = segment(0).unionByName(segment(1))
    ivfpqServe(merged, centsDf, book, g)
  }

  /** v68's trained residual-IVFPQ served from a PERSISTED trained
    * index — the compressed member of the trained persist-once/
    * serve-many family (v90 = flat IVF, v87 = pure PQ), and the exact
    * lifecycle of a production faiss IndexIVFPQ (`train` → `add` →
    * write_index → many searches, faiss_utils.py:4-22): the Lloyd-
    * trained grid-floored coarse centroids, the seeded RESIDUAL
    * codebooks, and the residual-encoded codes all persist once into
    * fingerprinted stores (two tiny bucketed tables + a code table
    * PARTITIONED BY coarse list for probe pruning); serving reads
    * 9-byte code rows from nprobe=2 partitions with zero training and
    * zero encode jobs. Oracle = v68's SQL VERBATIM (bit-transparent
    * persistence, the v66/v86 contract). */
  def v91TrainedIvfpqPersisted(s: SparkSession, d: String): DataFrame = {
    val (centsDf, book, g) = trainedIvfpqArtifacts(s, d)
    val codes = trainedIvfpqCodeStore(s, d, centsDf, book, g)
    ivfpqServe(codes, centsDf, book, g)
  }

  /** v91's persisted residual-code table (the depth-4 trained-IVFPQ
    * store, PARTITIONED BY coarse list) — factored out so v123's
    * staged warm retrain reads, and provably leaves unmigrated rows
    * of, the SAME stored code rows v91 serves. */
  private def trainedIvfpqCodeStore(s: SparkSession, d: String,
      centsDf: DataFrame, book: Seq[PqIndex.Codebook], g: DataFrame)
      : DataFrame = {
    val path = Store.name("/tmp/graft_tpqidx", d)
    Store.ensurePath(path) { tmp =>
      IvfPq.encodeResidual(g, centsDf, "id", "qemb", "cid",
          PqDim, PqM, book, scale = 1)
        .write.mode("overwrite").partitionBy("centroid_id").parquet(tmp)
    }
    Tables.ensureParallelism(s.read.parquet(path), Some(path))
  }

  /** v123's staged warm-retrain state: the depth-4 code store, the
    * refreshed floored centroid table `tc5` (ONE warm Lloyd round
    * seeded from the STORE's assignment column — never the seeds),
    * the migrated-id frame (assignment changed under tc5), and the
    * MIXED code store persisted into the refreshed serving layout
    * where ONLY migrated rows were re-encoded. Exposed to the spec so
    * the byte-unchanged / cold-equal / drift-set receipts read the
    * exact frames the gate serves. */
  private[graft] def retrainedIvfpqState(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame,
         Seq[PqIndex.Codebook], DataFrame) = {
    val (centsDf, book, g) = trainedIvfpqArtifacts(s, d)
    val codes4 = trainedIvfpqCodeStore(s, d, centsDf, book, g)
    // warm round: exact integer (n, Σ) per list over the STORED
    // assignment (the store's partition column IS the round state,
    // v111's warm-seeding rule), floored onto the grid — the IVFPQ
    // family's one-IEEE-division-per-dim centroid carrier (v68)
    val qvG = emb(s, d).select(col("vec_id").cast("long").as("id"),
      quantize(col("embedding")).as("qv"))
    val cs5 = Centroids.classSums(
        qvG.join(codes4.select(col("id"), col("centroid_id")), "id")
          .select(col("id"), col("qv"),
            col("centroid_id").cast("long").as("c")),
        "c", "qv")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
      .sortBy(_._1)
    import s.implicits._
    val tc5 = cs5.toIndexedSeq.map { case (lab, n, sv) =>
      (lab, sv.toIndexedSeq.map(si => math.floor(si.toDouble / n)))
    }.toDF("cid", "qemb")
    // map-only reassignment under the refreshed centroids; the drift
    // set {id : asn5 ≠ stored} IS the re-encode work list (v70's
    // matrix is its size estimate)
    val asn5 = IvfIndex.assign(g, tc5, "id", "qemb", "cid", scale = 1)
      .select(col("id"), col("centroid_id").as("c5"))
    val joined = codes4.join(asn5, "id")
    val migIds = joined.filter(col("c5") =!= col("centroid_id"))
      .select(col("id"))
    val path5 = Store.name("/tmp/graft_tpqretr", d)
    Store.ensurePath(path5) { tmp =>
      val kept = joined.filter(col("c5") === col("centroid_id"))
        .select(col("id"), col("codes"), col("centroid_id"))
      val reenc = IvfPq.encodeResidual(g.join(migIds, "id"), tc5,
        "id", "qemb", "cid", PqDim, PqM, book, scale = 1)
      kept.unionByName(reenc)
        .write.mode("overwrite").partitionBy("centroid_id").parquet(tmp)
    }
    val mixed = Tables.ensureParallelism(s.read.parquet(path5),
      Some(path5))
    (codes4, tc5, mixed, migIds, book, g)
  }

  /** STAGED RESIDUAL RE-ENCODE after a warm coarse retrain — the
    * composition the r12 verdict's #3 named: v111's warm-restart rule
    * applied to the COMPRESSED family. One incremental Lloyd round
    * refreshes the coarse centroids from the stored assignment
    * (collect the O(nlist·dim) exact (n, Σ) table, floor onto the
    * grid — training never restarts from seeds), then ONLY the
    * vectors whose assignment MIGRATED under the refreshed centroids
    * pay the per-row residual re-encode (fixed persisted codebook —
    * faiss refreshes the coarse quantizer without retraining the PQ
    * books; a full retrain = re-add would re-encode everything, and
    * v70's drift matrix is exactly the work estimate this staging
    * buys back). Unmigrated rows keep their stored code bytes
    * VERBATIM — their residuals were taken against the pre-refresh
    * centroid of the SAME list, the deterministic staleness a staged
    * rollout serves until its next encode wave — and the nprobe=2
    * residual-ADC search serves the mixed store against the REFRESHED
    * centroids. Scale shape: the refresh is one map-side-combined
    * (list, dim) aggregate + a map-only reassignment; the re-encode
    * is O(|migrated|), never O(N); the serve is v91's partition-
    * pruned probe. Oracle = v68's chain + one floored warm round +
    * the mixed-encode search CTEs; spec proves unmigrated rows
    * byte-unchanged, migrated rows equal a cold re-encode, and the
    * re-encode set IS the drift set. */
  def v123IvfpqRetrain(s: SparkSession, d: String): DataFrame = {
    val (_, tc5, mixed, _, book, g) = retrainedIvfpqState(s, d)
    ivfpqServe(mixed, tc5, book, g)
  }

  /** TRAINED-codebook PQ search — closes the train-vs-seed fidelity
    * gap to faiss `index_factory("PQx")` for the PURE PQ index the way
    * v65/v68 close it for IVF/IVFPQ (faiss trains per-subspace
    * codebooks with k-means, the scale path of faiss_utils.py:4-22;
    * v11 searches SEEDED books). Each subspace's ksub=16 codebook
    * trains with three exact Lloyd rounds — v26's (n, Σ)-carried
    * scaled-distance arithmetic applied to the (subspace, code) grid,
    * so all 8×16 clusters train in ONE shared pass over the sliced
    * state, never 8 serial jobs — then the converged means are
    * FLOORED onto the fixed-point grid (v68's trick: one
    * deterministic IEEE division + floor per dim, identical on both
    * engines) and v11's encode/ADC chain runs verbatim against the
    * trained books.
    *
    * Scale shape: each round collects only the O(m·ksub·sub) (n, Σ)
    * table (1,024 longs) and reassigns MAP-ONLY via per-subspace
    * literal argmins over the sliced state (8 dim-8 rows per vector —
    * the same bytes as the gallery, shuffled once by the (lab, dim)
    * aggregate per round); encode is map-only; the only O(Q) exchange
    * is the ADC partial top-k. */
  def v78TrainedPq(s: SparkSession, d: String): DataFrame = {
    val book = trainedPqBook(s, d)
    val gd = qembGallery(s, d)
    val codes = PqIndex.encode(gd, "id", "qemb", PqDim, PqM, book)
    pqServe(codes, book, gd)
  }

  /** v78's trained-codebook construction (the TRAIN step alone): three
    * exact Lloyd rounds on the (subspace, code) grid, converged means
    * grid-floored. Shared by the rebuild-shape gate (v78, train+search
    * per run) and the persisted-serving gate (v87, which stores the
    * result once), so the two gates cannot drift in training
    * arithmetic.
    *
    * Plan shape per round: assignment is ONE map-only projection over
    * the UNSLICED vector column (all m per-subspace argmins evaluated
    * into a codes array by native kernels — IntNearestCentroid for the
    * seed round, PqGridArgmin after — once per vector), and the (n, Σ)
    * grid rides the native
    * [[graft.plans.PqGridSumAggregate]] (one 9 KB primitive buffer
    * per partition). The previous shape posexploded every vector into
    * m subspace rows and localCheckpointed the 8×-row frame per round
    * — 40M materialized rows ×3 at the data-bound point; since every
    * round's assignment is a pure function of the gallery scan plus
    * collected literals, nothing needs checkpointing at all. Long
    * sums are order-independent (exact), so the trained book is
    * bit-identical to the exploded form's — the oracle and both gate
    * hashes are unchanged. */
  private def trainedPqBook(s: SparkSession,
                            d: String): Seq[PqIndex.Codebook] = {
    val sub = PqDim / PqM
    val g = emb(s, d).select(col("vec_id").cast("long").as("id"),
      quantize(col("embedding")).as("qv"))
    // seed books: sub-slices of the first ksub vectors (v11's
    // derive-from-data rule) — broadcast-sized, collected once.
    // seeds(cid) indexes POSITIONALLY, so a corpus with any vec_id in
    // 0..ksub-1 missing must fail loudly here (the oracle's cb0 would
    // silently train fewer clusters — the engines would diverge).
    val seeds: Array[Array[Long]] = g.filter(col("id") < PqKsub)
      .select(col("id"), col("qv")).collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Long](1).toArray)
    require(seeds.length == PqKsub,
      s"trainedPqBook: seed ids 0..${PqKsub - 1} must all exist " +
        s"(found ${seeds.length}) — positional seed slices cannot " +
        "degrade to fewer clusters the way the id-keyed oracle does")
    // the seed round: m per-subspace exact integer argmins in one
    // projection (IvfIndex.assign's kernel). Ordering by the bigint d2
    // equals ordering by its double cast while d2 < 2^53, which a
    // scale-10^4 8-dim slice cannot reach (it needs |x| > 3,000).
    val seedCodes = array((0 until PqM).map { j =>
      graft.plans.CentroidKernels.nearestInt(col("qv"), PqDim, j * sub,
        seeds.toSeq.zipWithIndex.map { case (sv, cid) =>
          (cid.toLong, sv.slice(j * sub, (j + 1) * sub)) })
        .getField("cid")
    }: _*)
    def gridSums(codes: Column): Array[(Long, Long, Array[Long])] = {
      import org.apache.spark.sql.GraftSqlBridge
      val agg = GraftSqlBridge.column(
        graft.plans.PqGridSumAggregate(
          GraftSqlBridge.expression(col("qv")),
          GraftSqlBridge.expression(col("codes")),
          PqM, PqKsub, sub).toAggregateExpression())
      g.select(col("qv"), codes.as("codes"))
        .agg(agg.as("grid"))
        .select(explode(col("grid")).as("cell"))
        .select(col("cell.lab"), col("cell.n"), col("cell.svec"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
        .filter(_._2 > 0)
        .sortBy(_._1)
    }
    // rounds 1-3 reassign via the int128 grid-argmin kernel (one
    // native expression for all m subspaces — bit-identical to the
    // previous Decimal(38,0) candidate structs, see GridArgminExpressions)
    def roundCodes(sums: Array[(Long, Long, Array[Long])]): Column =
      graft.plans.GridArgmin.pqCodes(col("qv"), sums, PqM, sub, PqKsub,
        DefaultScale.toLong)
    var codes = seedCodes
    var sums = gridSums(codes)
    for (_ <- 1 to 2) {
      codes = roundCodes(sums)
      sums = gridSums(codes)
    }
    // the loop above re-aggregates after each of rounds 1-2; round 3's
    // reassignment feeds the final grid directly
    sums = gridSums(roundCodes(sums))
    sums.toIndexedSeq.map { case (lab, n, svec) =>
      PqIndex.Codebook((lab / PqKsub).toInt, (lab % PqKsub).toInt,
        svec.toIndexedSeq.map(si => math.floor(si.toDouble / n)))
    }
  }

  /** The PERSISTED trained-PQ codebook (v87's store) plus the gallery
    * in encode form — shared by v87 (full code store), v99 (the
    * incremental-ingest twin), and their recall rows, so every sharer
    * reads the SAME fingerprinted book table and serving differences
    * can only come from the code-store path under test. */
  private def trainedPqBookStore(s: SparkSession, d: String)
      : (Seq[PqIndex.Codebook], DataFrame) = {
    val bookDf = BucketedStore.ensure(s,
      Store.name("graft_pq_tbook", d), {
        import s.implicits._
        trainedPqBook(s, d).toDF("sub", "cid", "centroid")
      }, "sub", numBuckets = 4)
    // the codebook is O(m·ksub·sub) by construction — centroid-sized,
    // collected like every centroid frame
    val book = bookDf.collect().toIndexedSeq.map(r =>
      PqIndex.Codebook(r.getAs[Int]("sub"), r.getAs[Int]("cid"),
        r.getSeq[Double](r.fieldIndex("centroid"))))
    val gd = qembGallery(s, d)
    (book, gd)
  }

  /** SEGMENT-MERGE serving for the TRAINED PQ store — the third (and
    * last) trained family of the v112/v116 rolling-build pair set
    * (v112 = flat IVF, v116 = residual IVFPQ, v117 = pure PQ): two
    * parity-split segments, each encoded under the SAME persisted
    * trained book into its own fingerprinted bucketed table (v87's
    * layout per segment), unioned at serve behind the ADC scan. PQ
    * encode is per-row under a fixed book, so merged ≡ monolithic
    * EXACTLY — oracle = v78's SQL VERBATIM. At 100 TB a snapshot
    * ingest costs one O(segment) encode job into a fresh segment
    * table; the ADC scan streams the union's 8-byte code rows. */
  def v117PqSegmentServe(s: SparkSession, d: String): DataFrame = {
    val (book, gd) = trainedPqBookStore(s, d)
    def segment(par: Int): DataFrame =
      BucketedStore.ensure(s,
        Store.name(s"graft_pq_tcodes_seg$par", d),
        PqIndex.encode(gd.filter(col("id") % 2 === par), "id", "qemb",
          PqDim, PqM, book),
        "id", numBuckets = 32)
    val merged = segment(0).unionByName(segment(1))
    pqServe(merged, book, gd)
  }

  /** v78's trained-PQ search served from a PERSISTED trained index —
    * the missing persist-once/serve-many form of the TRAINED family
    * (seeded indexes got theirs in v64/v66/v67/v77/v86; the trained
    * chains re-paid training per invocation). This is faiss's actual
    * lifecycle (`train` → `add` → persist → many `search` calls,
    * faiss_utils.py:4-22): the three Lloyd rounds and the map-only
    * encode run ONCE at build time into two fingerprinted bucketed
    * tables — the O(m·ksub·sub) codebook (128 rows) and the 8-byte/row
    * code table — and serving reads codes + collects the tiny book
    * with ZERO training jobs. At 100 TB the build is amortized over
    * every query batch and the served scan reads ~1/32nd of the raw
    * vector bytes. The source fingerprint in the table names mints a
    * fresh index when the data regenerates; oracle = v78's SQL
    * VERBATIM, so the gate proves trained-index persistence is
    * bit-transparent (the v66/v86 contract). */
  def v87TrainedPqPersisted(s: SparkSession, d: String): DataFrame = {
    val (book, gd) = trainedPqBookStore(s, d)
    val codes = BucketedStore.ensure(s,
      Store.name("graft_pq_tcodes", d),
      PqIndex.encode(gd, "id", "qemb", PqDim, PqM, book),
      "id", numBuckets = 32)
    pqServe(codes, book, gd)
  }

  /** The MERGED code frame of v99's incremental ingest — exposed to
    * the spec so "merged ≡ full rebuild" is provable row-for-row
    * against [[PqIndex.encode]] of the whole gallery. Base store =
    * codes of the pre-batch corpus (id % 4 ≠ 0, v27/v80's split) in
    * the fingerprinted bucketed layout; the arriving batch RE-DELIVERS
    * the full gallery (d9's overlap contract), anti-joins the store by
    * id (store side bucketed ⇒ ZERO index-side exchange), and only the
    * genuinely new ids pay the map-only encode against the PERSISTED
    * trained codebook — training runs zero times per ingest, exactly
    * faiss's `add()` on a loaded IndexPQ (faiss_utils.py:11-17). */
  private[graft] def upsertedPqCodes(s: SparkSession, d: String)
      : (DataFrame, Seq[PqIndex.Codebook], DataFrame) = {
    val (book, gd) = trainedPqBookStore(s, d)
    val base = BucketedStore.ensure(s,
      Store.name("graft_pq_tcodes_base", d),
      PqIndex.encode(gd.filter(col("id") % 4 =!= 0), "id", "qemb",
        PqDim, PqM, book),
      "id", numBuckets = 32)
    val newRows = gd.join(base.hint("merge"),
      gd("id") === base("id"), "left_anti")
    val newCodes = PqIndex.encode(newRows, "id", "qemb", PqDim, PqM, book)
    (base.unionByName(newCodes), book, gd)
  }

  /** The FULL maintenance lifecycle on one code store — train (the
    * persisted book) → incremental ADD (v99's merged ingest) → DELETE
    * (v62's tombstone set, vec_id % 7 = 0) → serve: what a production
    * index actually looks like after a week of operation, gated as
    * one key so the composed semantics can't silently drift. The
    * tombstone anti-join runs on the merged code frame BEFORE the ADC
    * top-k (dead rows must not displace live neighbors — v62's
    * contract), with the dead-id set BROADCAST. The hint's bound is
    * ENFORCED by the gated compaction twin (v126: any shard past
    * v71's 12.5% threshold is rewritten dead-purged, and serving
    * continues from the residual sidecar the rewrite bounds) — this
    * fixture deliberately runs UNcompacted with ~14.3% dead (vec_id %
    * 7, above the threshold) to stress the anti-join at small scale;
    * a deployment at that dead fraction runs v126's rewrite and
    * serves its bounded sidecar. Measured at the data-bound point
    * the hint is the difference between a 4 s serve and a 32 s full
    * shuffle of the merged code frame (the unhinted plan sort-merges
    * 100% of the store to drop 14% of it). Oracle = v78's trained-PQ
    * chain with the ranking recomputed over the tombstone-filtered
    * scores; the spec proves the maintained store serves
    * bit-identically to a CLEAN REBUILD on the alive corpus. At
    * 100 TB: ingest O(batch), delete O(dead) row filtering, zero
    * store rewrites (v95's compaction is the eventual reclaim). */
  def v106StoreMaintenance(s: SparkSession, d: String): DataFrame = {
    val (merged, book, gd) = upsertedPqCodes(s, d)
    val tomb = deadIds(s, d)
    val alive = merged.join(broadcast(tomb),
      merged("id") === tomb("dead_id"), "left_anti")
    pqServe(alive, book, gd)
  }

  /** Maintained-store retrieval quality — the eval-matrix row for
    * v106 (every serving twin carries a measured quality row):
    * recall@5 of the maintained store's ADC ranking vs the EXACT scan
    * over the same alive corpus (v62's tombstone-filtered exact
    * semantics — the exact side must exclude dead rows too, or the
    * row would punish the deletes instead of the codes). Both inputs
    * gated O(Q·k) frames → broadcast join + tiny aggregate. */
  def v107MaintainedRecall(s: SparkSession, d: String): DataFrame =
    aliveRecall(s, d, v106StoreMaintenance(s, d))

  /** The SQ8 maintenance lifecycle — v106's composed contract
    * (train → incremental ADD → DELETE → serve) for the SCALAR
    * quantizer store: v104's merged ingest (encode under the STORED
    * per-dim params, never refit) with v62's tombstone set anti-joined
    * BEFORE the code-space top-k, so dead rows can neither surface nor
    * displace live neighbors. The dead-id set is broadcast-HINTED
    * under the bound v120's gated compaction now ENFORCES for this
    * family (every shard ≤ 12.5% resident dead after the rewrite;
    * this fixture's ~14.3% is the deliberate uncompacted small-scale
    * stress) — the store side is the same union-of-bucketed-frames
    * shape AQE mis-planned for v106. Oracle = v17/v86's SQ-KNN chain with the ranking
    * recomputed over tombstone-filtered codes; spec proves the
    * maintained store serves bit-identically to a clean alive-corpus
    * re-encode UNDER THE SAME stored quantizer params. At 100 TB:
    * O(batch) ingest + O(dead) filter, zero store rewrites. */
  def v109SqMaintenance(s: SparkSession, d: String): DataFrame = {
    val merged = upsertedSqCodes(s, d)
    val tomb = deadIds(s, d)
    val alive = merged.join(broadcast(tomb),
      merged("gid") === tomb("dead_id"), "left_anti")
    KnnJoin.knnL2Pre(alive, merged.filter(col("gid") % 100 === 0),
      "gid", "cv", "gid", k = 5, scale = 1)
  }

  /** Maintained-SQ8 retrieval quality — v107's eval row for v109:
    * recall@5 of the maintained SQ store's code ranking vs the EXACT
    * scan over the same alive corpus (the exact side excludes dead
    * rows too, so the row measures the 1-byte codes under
    * maintenance, not the deletes). Both inputs gated O(Q·k) frames
    * → broadcast join + tiny aggregate. */
  def v114SqMaintainedRecall(s: SparkSession, d: String): DataFrame =
    aliveRecall(s, d, v109SqMaintenance(s, d))

  /** The IVFPQ maintenance lifecycle — v106's composed contract for
    * the trained residual-IVFPQ store (the last of the three code-
    * store families; faiss train/add/remove_ids/search on the
    * production-default index): v105's merged ingest (per-row residual
    * encode against the persisted trained centroids + codebook) with
    * v62's tombstone set anti-joined BEFORE the nprobe=2 residual-ADC
    * top-k. The dead-id set is broadcast-HINTED under the bound
    * v121's gated compaction now ENFORCES for this family (the
    * fixture's uncompacted 14.3% is the deliberate small-scale
    * stress). Oracle = v68's trained
    * chain with the ranking recomputed over tombstone-filtered
    * scores; spec proves the maintained store serves bit-identically
    * to a clean alive-corpus re-encode under the same persisted
    * artifacts. At 100 TB: O(batch) ingest + O(dead) filter over a
    * ~1/60th-the-vector-bytes store, zero rewrites. */
  def v110IvfpqMaintenance(s: SparkSession, d: String): DataFrame = {
    val (merged, centsDf, book, g) = upsertedIvfpqCodes(s, d)
    val tomb = deadIds(s, d)
    val alive = merged.join(broadcast(tomb),
      merged("id") === tomb("dead_id"), "left_anti")
    ivfpqServe(alive, centsDf, book, g)
  }

  /** Maintained-IVFPQ retrieval quality — v107's eval row for v110:
    * recall@5 of the maintained residual-ADC ranking vs the EXACT
    * scan over the same alive corpus. Completes the maintenance
    * eval matrix (trained-PQ v107, SQ8 v114, IVFPQ v115, graph v113)
    * — every store family's lifecycle carries a measured quality
    * row. Both inputs gated O(Q·k) frames → broadcast join + tiny
    * aggregate. */
  def v115IvfpqMaintainedRecall(s: SparkSession, d: String): DataFrame =
    aliveRecall(s, d, v110IvfpqMaintenance(s, d))

  // ---------- code-store compaction (v120/v121/v126) ----------

  /** The (source, compacted) store paths of a code-store compaction —
    * exposed (not re-derived by callers) so the specs and any
    * streaming twin serve from the exact stores the gated keys build
    * (the compactedIvfStorePath convention, ADVICE r10). */
  private[graft] def codeCompactionPaths(d: String, tag: String)
      : (String, String) = {
    (Store.name(s"/tmp/graft_${tag}_src", d),
      Store.name(s"/tmp/graft_${tag}_cmp", d))
  }

  /** Persist a shard-carrying code frame (id, …, centroid_id) into a
    * partitioned source layout, execute the v71 rewrite rule on it
    * ([[IvfIndex.compact]] under the v62 delete set — flagged shards
    * rewritten dead-purged, unflagged files copied byte-for-byte),
    * and return the loaded COMPACTED store. This is v95's machinery
    * applied to the CODE stores: after it runs, every shard's
    * resident dead fraction is ≤ 12.5 % BY CONSTRUCTION — the bound
    * v106/v109/v110's broadcast(tombstone) serve hints assume is no
    * longer an assumption but the postcondition of a gated operator.
    * Build-once semantics via [[Store.ensurePath]] on both layouts;
    * compaction cost scales with the flagged fraction, never the
    * store size (faiss `remove_ids` rewrite, faiss_utils.py:11-17,
    * executed only where the rent is due). */
  private def compactedCodeStore(s: SparkSession, d: String, tag: String,
                                 sharded: => DataFrame): DataFrame = {
    val (srcPath, cmpPath) = codeCompactionPaths(d, tag)
    Store.ensurePath(srcPath) { tmp =>
      sharded.write.mode("overwrite").partitionBy("centroid_id")
        .parquet(tmp)
    }
    Store.ensurePath(cmpPath) { tmp =>
      IvfIndex.compact(s, srcPath, tmp, isDead(col("id")))
    }
    IvfIndex.load(s, cmpPath)
  }

  /** The flat code stores' rewrite unit: the v6/v71 seed-centroid
    * assignment as a (sid, centroid_id) map — a flat SQ/PQ store has
    * no native list structure, so the deployment shards it by coarse
    * geometry (the same shards v71's planner already accounts), and
    * the executed flag set is LITERALLY v71's decision column (the
    * spec asserts it). Map-only literal argmin; no shuffle. */
  private def seedShardMap(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    IvfIndex.assign(e, seedCentroids(e), "vec_id", "embedding", "cid")
      .select(col("id").as("sid"), col("centroid_id"))
  }

  /** The RESIDUAL tombstone sidecar — the delete set intersected with
    * the ids still resident after compaction (one store-sized
    * semi-join at compaction time, checkpointed and amortized across
    * every serve batch; a deployment writes it next to the compacted
    * store). By the executed v71 invariant it holds ≤ 12.5 % of every
    * shard, so broadcasting it at serve time is CORRECT by
    * construction — the enforcement the v106-family hints used to
    * only document. */
  private def residentTombs(s: SparkSession, d: String,
                            store: DataFrame): DataFrame =
    deadIds(s, d)
      .join(store, col("dead_id") === store("id"), "left_semi")
      .localCheckpoint(false)

  /** SQ8 code-store compaction + serve — the RECLAIM step v109's
    * maintenance lifecycle defers (v95's contract on the scalar-
    * quantizer store, closing the loop the r12 verdict named top
    * priority): the merged SQ codes persist into a seed-centroid-
    * sharded layout, v71's rule rewrites EXACTLY the over-threshold
    * shards with tombstones purged (unflagged shard files copied
    * byte-for-byte — never re-encoded), and the code-space top-k
    * serves from the compacted store behind the RESIDUAL sidecar
    * anti-join, whose broadcast is now justified by the executed
    * invariant (every shard ≤ 12.5 % resident dead) instead of a
    * documented assumption. Compaction only moves bytes: compacted ∖
    * residual ≡ merged ∖ dead, so the oracle is v109's maintenance
    * SQL VERBATIM — bit-transparency is the gate (the v95/v119
    * contract). At 100 TB: the rewrite scales with the flagged
    * fraction, the sidecar with the surviving dead rows, and serving
    * drops nothing but the bounded anti-join. */
  def v120SqCompaction(s: SparkSession, d: String): DataFrame = {
    val merged = upsertedSqCodes(s, d)
    val store = compactedCodeStore(s, d, "sqcmp",
      merged.join(seedShardMap(s, d), merged("gid") === col("sid"))
        .select(merged("gid").as("id"), col("cv"), col("centroid_id")))
    val alive = store
      .join(broadcast(residentTombs(s, d, store)),
        store("id") === col("dead_id"), "left_anti")
      .select(col("id").as("gid"), col("cv"))
    KnnJoin.knnL2Pre(alive, merged.filter(col("gid") % 100 === 0),
      "gid", "cv", "gid", k = 5, scale = 1)
  }

  /** Trained-IVFPQ code-store compaction + serve — v120's contract on
    * the production-default compressed index (faiss IndexIVFPQ
    * remove_ids): the merged residual codes already carry their
    * TRAINED coarse list, so the store persists partitioned by
    * centroid_id (v91's serving layout IS the compaction layout),
    * v71's rule rewrites the over-threshold lists dead-purged, and
    * the nprobe=2 residual-ADC search serves from the compacted
    * store behind the bounded residual-sidecar anti-join. Oracle =
    * v110's maintenance SQL VERBATIM (bit-transparent rewrite). At
    * 100 TB the rewrite touches flagged lists' 9-byte code rows only
    * — the cheapest compaction of the three families per byte
    * reclaimed. */
  def v121IvfpqCompaction(s: SparkSession, d: String): DataFrame = {
    val (merged, centsDf, book, g) = upsertedIvfpqCodes(s, d)
    val store = compactedCodeStore(s, d, "ivfpqcmp", merged)
    val alive = store
      .join(broadcast(residentTombs(s, d, store)),
        store("id") === col("dead_id"), "left_anti")
      .select(store("id"), store("codes"), store("centroid_id"))
    ivfpqServe(alive, centsDf, book, g)
  }

  /** Trained-PQ code-store compaction + serve — v120's contract on
    * the flat trained-PQ store (the v106 family itself, whose
    * broadcast-hint caveat motivated the round): merged codes shard
    * by the seed-centroid map, v71's rule rewrites the flagged
    * shards, and the ADC top-k serves from the compacted store
    * behind the bounded residual sidecar. Oracle = v106's
    * maintenance SQL VERBATIM. With v120/v121 this closes the
    * reclaim gap for all three code-store families — the
    * maintenance matrix's serve-time bound is an enforced invariant
    * everywhere. */
  def v126PqCompaction(s: SparkSession, d: String): DataFrame = {
    val (merged, book, gd) = upsertedPqCodes(s, d)
    val store = compactedCodeStore(s, d, "pqcmp",
      merged.join(seedShardMap(s, d), merged("id") === col("sid"))
        .select(merged("id"), col("codes"), col("centroid_id")))
    val alive = store
      .join(broadcast(residentTombs(s, d, store)),
        store("id") === col("dead_id"), "left_anti")
      .select(store("id"), store("codes"))
    pqServe(alive, book, gd)
  }

  /** Incremental ingest into the persisted trained-PQ code store —
    * faiss's DAILY operation (`add()` on a loaded trained index,
    * faiss_utils.py:11-17) done the engine way: the batch anti-joins
    * the fingerprinted bucketed code store (zero store-side exchange,
    * d9/v27's contract), only genuinely new vectors pay the map-only
    * encode against the persisted codebook, and serving reads the
    * union. Because PQ encode is PER-ROW under a fixed book, merged ≡
    * rebuilt-from-scratch EXACTLY — so the oracle is v78's trained-PQ
    * SQL VERBATIM (the v80 argument: the transparency gate proves the
    * ingest path, not a new ranking). At 100 TB the daily cost is
    * O(batch) encode + an O(batch) bucketed anti-join probe instead of
    * a full-corpus re-encode; the store is never rewritten. */
  def v99CodeStoreUpsert(s: SparkSession, d: String): DataFrame = {
    val (merged, book, gd) = upsertedPqCodes(s, d)
    pqServe(merged, book, gd)
  }

  /** TRAINED-PQ retrieval quality — recall@5 of the trained-codebook
    * ADC ranking vs v1's exact scan (the v36 recipe pointed at the
    * TRAINED books), so the value of codebook training is MEASURED
    * next to v36's seeded row instead of assumed: the delta between
    * the two rows is what three Lloyd rounds buy at identical code
    * size — the number that decides whether a 100 TB deployment pays
    * the training job. The approx side serves from v87's PERSISTED
    * trained index (bit-identical to v78 by v87's verbatim-oracle
    * gate), so the eval never retrains; both inputs are O(Q·k) frames
    * → broadcast join, tiny aggregate. */
  def v89TrainedPqRecall(s: SparkSession, d: String): DataFrame =
    recallRow(v1KnnL2(s, d), v87TrainedPqPersisted(s, d))

  /** TRAINED-IVF retrieval quality — recall@5 of the trained coarse
    * quantizer's probe search vs v1's exact scan (v39's row reads the
    * SEEDED quantizer; the (v39, v92) pair measures what the Lloyd
    * rounds buy the flat-IVF probe at equal nprobe). Approx side
    * serves from v90's persisted trained index (bit-identical to v65
    * by v90's verbatim-oracle gate) — the eval never retrains. Both
    * inputs O(Q·k) frames → broadcast join + tiny aggregate. */
  def v92TrainedIvfRecall(s: SparkSession, d: String): DataFrame =
    recallRow(v1KnnL2(s, d), v90TrainedIvfPersisted(s, d))

  /** TRAINED-IVFPQ retrieval quality — recall@5 of the trained
    * residual-IVFPQ search vs v1's exact scan (v56's row reads the
    * seeded non-residual composite; the (v56, v93) pair measures what
    * training + by_residual buy the compressed index at equal code
    * size and nprobe — faiss's production default vs the seeded
    * baseline, as a pair of gated rows). Approx side serves from
    * v91's persisted trained index; both inputs O(Q·k) frames. */
  def v93TrainedIvfpqRecall(s: SparkSession, d: String): DataFrame =
    recallRow(v1KnnL2(s, d), v91TrainedIvfpqPersisted(s, d))

  /** Per-cluster membership stats of the LAST round: size after, and
    * how many members kept their previous assignment. */
  private def lloydStats(last: DataFrame): DataFrame =
    last.groupBy(col("c").as("centroid_id"))
      .agg(count(lit(1)).as("n_after"),
        sum(when(col("c_prev") === col("c"), 1L).otherwise(0L))
          .as("n_stayed"))

  /** One EXACT Lloyd training round under the hard gate — the k-means
    * step the IVF coarse quantizer trains with (test-only until now
    * because float centroid means aren't bit-portable). Exactness trick
    * (same as v14): the updated centroid is carried as (n, sum-vector),
    * never divided — `||q − s/n||² = A/n²` with `A = Σ(n·q_i − s_i)²`
    * accumulated in Decimal(38,0), so reassignment compares
    * `sqrt(A)/(n·scale)` — identical IEEE ops both engines. Plan shape:
    * map-only literal-argmin assign → one (cluster, dim)-keyed sum
    * aggregate (map-side combined, nlist·dim output rows) → collect the
    * broadcast-sized sums → map-only literal-argmin REassign → O(nlist)
    * count aggregate. Zero data-sized shuffles. Output per cluster:
    * size after the round and how many members stayed. */
  def v18LloydRound(s: SparkSession, d: String): DataFrame =
    lloydStats(lloydRound(lloydSeedAssign(emb(s, d))))

  /** Centroid-shift convergence monitor — per centroid, the exact
    * distance the mean moved in one Lloyd round (the quantity a
    * training loop thresholds to declare convergence). No float
    * centroid exists on either engine: the shift is
    * `sqrt(Σ(n·cv_i − s_i)²)/(n·scale)` over the seed position (cv)
    * and the round's (n, sum) — the v18/v14 scaled-distance trick —
    * with the Σ in Decimal(38,0) ≡ HUGEINT. One (cluster, dim)-keyed
    * map-side-combined aggregate; output is O(nlist) rows. */
  def v38CentroidShift(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sums = Centroids.classSums(lloydSeedAssign(e), "c", "qv")
    val seedQ = seedCentroids(e)
      .select(col("cid"), quantize(col("embedding")).as("cv"))
    sums.join(broadcast(seedQ), col("lab") === col("cid"))
      .select(col("cid").as("centroid_id"), col("n"),
        aggregate(
          zip_with(col("cv"), col("svec"), (ci, si) => {
            val diff = col("n").cast(dec) * ci.cast(dec) - si.cast(dec)
            diff * diff
          }),
          lit(0L).cast(dec), (acc, x) => acc + x).as("a2"))
      .select(col("centroid_id"), col("n"),
        (sqrt(col("a2")) /
          (col("n") * lit(DefaultScale.toLong)).cast("double")).as("shift"))
  }

  /** FULL Lloyd TRAINING under the hard gate — the convergence loop the
    * IVF coarse quantizer actually trains with (v18 gates one round;
    * this chains three). Each round re-collects the broadcast-sized
    * (n, sum) table and re-assigns map-only, so the iteration costs one
    * small aggregate + one scan per round with zero data-sized
    * shuffles; `localCheckpoint` truncates the growing literal-argmin
    * lineage between rounds (the connectedComponents pattern — at
    * cluster scale, checkpoint to storage). The oracle reconstructs
    * all three rounds as chained CTEs with identical exact
    * arithmetic. */
  def v26LloydTrain(s: SparkSession, d: String): DataFrame = {
    var cur = lloydSeedAssign(emb(s, d))
    for (_ <- 1 to 3)
      cur = lloydRound(cur).localCheckpoint(false)
    lloydStats(cur)
  }

  /** Quantized vectors with their LSH bucket key — the blocked-graph
    * front end of every graph key ([[GraphIndex.bucketed]]). */
  private def bucketedVecs(s: SparkSession, d: String): DataFrame =
    GraphIndex.bucketed(emb(s, d))

  /** KNN-graph construction — every vector's top-3 neighbors, the
    * build primitive under graph ANN indexes (NN-descent / HNSW layer
    * 0) and graph-based dedup. All-pairs exact is O(N²) and dies at
    * scale, so candidates are LSH-BUCKET-BLOCKED (the d5 blocker, the
    * same seed-fixed hyperplanes as v10): the self-join keys on the
    * bucket, so candidate volume is Σ bucket², linear in N for fixed
    * bucket count, and the join shuffles ONCE on the bucket key. Top-3
    * per source via the native partial top-k aggregate (map-side heaps,
    * O(N·k) shuffle — never a per-source sort). Vectors alone in their
    * bucket emit no edges (the recall/coverage trade is the operator
    * contract; more planes + multi-probe tune it at 100 TB). */
  def v28KnnGraph(s: SparkSession, d: String): DataFrame =
    GraphIndex.knnGraph(bucketedVecs(s, d))
      .select(col("src_id"), col("rnk"), col("dst_id"),
        distFromIntSq(col("d2")).as("dist"))

  /** One NN-descent refinement round over the v28 graph — the iteration
    * that turns a rough blocked graph into a high-recall one (NN-descent:
    * "a neighbor of my neighbor is likely my neighbor"). Candidates are
    * the current edges plus the 2-hop closure (neighbors' neighbors,
    * self excluded), deduped, re-scored EXACTLY, and cut back to top-3.
    * Scale shape: the closure is an id-keyed equi-join of an O(N·k) edge
    * list with itself (shuffle O(N·k²), never O(N²)); re-scoring joins
    * candidates to vectors by id (AQE may broadcast the smaller side);
    * the final cut is the native partial top-k. Each further round is
    * the same plan — recall climbs monotonically toward exact (v1 is
    * the fixed point). */
  def v29NnDescent(s: SparkSession, d: String): DataFrame = {
    val v = bucketedVecs(s, d)
    // the O(N·k) edge list is referenced three times below (direct,
    // g1, g2) — localCheckpoint computes the bucketed join + top-k
    // once instead of three times (the v26 lineage-truncation pattern;
    // at cluster scale, checkpoint to storage)
    val g = GraphIndex.knnGraph(v).select("src_id", "dst_id")
      .localCheckpoint(false)
    val twoHop = g.as("g1").join(g.as("g2"),
        col("g1.dst_id") === col("g2.src_id") &&
          col("g1.src_id") =!= col("g2.dst_id"))
      .select(col("g1.src_id").as("src_id"), col("g2.dst_id").as("dst_id"))
    // r13 optimization: candidate dedup moved inside the bounded top-k
    // buffer (perGroupDistinct — d2 is deterministic per (src, dst)),
    // dropping the O(N·k²) closure frame's distinct exchange.
    val cand = g.union(twoHop)
    val rescored = cand
      .join(v.select(col("id").as("src_id"), col("qv").as("sv")), "src_id")
      .join(v.select(col("id").as("dst_id"), col("qv").as("dv")), "dst_id")
      .select(col("src_id"), col("dst_id"),
        intL2Sq(col("sv"), col("dv")).cast("double").as("d2"))
    TopK.perGroupDistinct(rescored, "src_id", "dst_id", "d2", k = 3,
      ascending = true)
      .select(col("src_id"), col("rnk"), col("dst_id"),
        distFromIntSq(col("d2")).as("dist"))
  }

  /** Mutual-KNN clustering — connected components over the MUTUAL edges
    * of the v28 graph (a↔b both rank each other top-3). Mutual-KNN is
    * the classic density-based grouping on an embedding space (chains
    * break at asymmetric links, so clusters follow the data manifold,
    * not the bucket structure). The mutual filter is one self-join of
    * the O(N·k) edge list on the reversed key pair — the list itself
    * reads from the persisted store ([[persistedLayerEdges]], already
    * materialized, so no checkpoint and no rebuild); components run
    * through the d7 min-label-propagation operator (one shuffle per
    * step, lazy-checkpoint convergence, never a collect). Every vector
    * gets a label; singletons keep their own id. */
  def v30MutualKnnClusters(s: SparkSession, d: String): DataFrame = {
    val g = persistedLayerEdges(s, d, 0)
    val mutual = g.as("a").join(g.as("b"),
        col("a.src_id") === col("b.dst_id") &&
          col("a.dst_id") === col("b.src_id") &&
          col("a.src_id") < col("a.dst_id"))
      .select(col("a.src_id").as("a_id"), col("a.dst_id").as("b_id"))
    val labels = Clustering.connectedComponents(mutual, "a_id", "b_id",
      emb(s, d).select(col("vec_id").cast("long").as("id")), "id")
    // groupBy + join-back, not a partitionBy(cluster_id) window: a
    // single dominant cluster must never land on one task (d7's rule).
    val sizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).cast("long").as("n_members"))
    labels.join(sizes, "cluster_id")
      .select(col("id").as("vec_id"), col("cluster_id"), col("n_members"))
  }

  /** OPQ-style pre-rotated PQ search — the v11 ADC chain behind a
    * seeded SIGNED PERMUTATION of the dimensions (OPQ's idea: rotate
    * before splitting into subspaces so each subspace carries balanced
    * variance; a signed permutation is the exact-arithmetic member of
    * that family — orthogonal, so true L2 is untouched, while the PQ
    * cells change). The rotation is a literal-folded map-only
    * projection (64 element_at's inside codegen — no shuffle, no UDF);
    * everything downstream IS v11's operator chain, so the index
    * arithmetic cannot drift between the rotated and plain paths. */
  def v31OpqPrerotate(s: SparkSession, d: String): DataFrame = {
    val (perm, signs) = signedPerm(PqDim, seed = 42L)
    seededPqServe(s, d, applySignedPerm(_, perm, signs))
  }

  /** The TRAINED OPQ dim-to-subspace assignment: a variance-balancing
    * permutation derived from v33's exact per-dim second moments —
    * dims ranked by the exact integer variance NUMERATOR n·Σx² − (Σx)²
    * (ties to dim id) and dealt round-robin across the m subspaces
    * (rank k → subspace k mod m, slot k div m), so every subspace gets
    * one dim from each variance tier — the greedy balance faiss's OPQ
    * rotation seeks, restricted to signed permutations (the family
    * v31 already consumes; a permutation is an exact isometry, so the
    * chain stays fixed-point-exact end to end). Stats ride
    * Decimal(38,0) ≡ HUGEINT; the ordering is computed on exact
    * BigInts — both engines rank identically. */
  private[graft] def trainedOpqPerm(s: SparkSession, d: String)
      : Array[Int] = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val rows = emb(s, d)
      .select(posexplode(quantize(col("embedding"))).as(Seq("pos", "qx")))
      .groupBy(col("pos").cast("int").as("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("qx").cast(dec)).as("sx"),
        sum(col("qx").cast(dec) * col("qx").cast(dec)).as("sx2"))
      .collect()
    require(rows.length == PqDim,
      s"trainedOpqPerm: expected $PqDim dims, found ${rows.length}")
    val nums: Map[Int, BigInt] = rows.map { r =>
      val n = BigInt(r.getLong(1))
      val sx = BigInt(r.getDecimal(2).toBigInteger)
      val sx2 = BigInt(r.getDecimal(3).toBigInteger)
      r.getInt(0) -> (n * sx2 - sx * sx)
    }.toMap
    val sub = PqDim / PqM
    val ranked = (0 until PqDim).sortBy(dim => (-nums(dim), dim))
    val perm = new Array[Int](PqDim)
    ranked.zipWithIndex.foreach { case (dim, k) =>
      perm((k % PqM) * sub + k / PqM) = dim
    }
    perm
  }

  /** v31's ADC chain over the TRAINED-permutation gallery (signs all
    * +1 — the rotation is a pure permutation, exactly isometric). */
  private def opqTrainedSearch(s: SparkSession, d: String): DataFrame = {
    val perm = trainedOpqPerm(s, d)
    seededPqServe(s, d, applySignedPerm(_, perm, Array.fill(PqDim)(1)))
  }

  /** TRAINED-OPQ retrieval quality — recall@5 of the ADC ranking over
    * the variance-balanced TRAINED permutation vs v1's exact scan, the
    * row that reads next to v69 (the SEEDED random permutation at
    * identical code size): the (v69, v102) delta is what TRAINING the
    * rotation buys — faiss OPQ's value proposition as a measured pair
    * of gated rows instead of an assumption. Training is one
    * O(dims)-key exact aggregate (v33's pass) collected to a 64-entry
    * literal; the chain is v31's map-only encode + broadcast-table ADC
    * + O(Q·k) partial top-k; the eval joins two O(Q·k) frames. */
  def v102OpqTrainedRecall(s: SparkSession, d: String): DataFrame =
    recallRow(v1KnnL2(s, d), opqTrainedSearch(s, d))

  /** The Gram-diagonal GREEDY OPQ allocation (v125's engine): dims
    * ranked by the exact integer variance numerator n·Σx² − (Σx)²
    * (v34's Gram diagonal — the same second moments v33 gates), then
    * each dim in descending order goes to the least-loaded ELIGIBLE
    * subspace (capacity dim/m; ties → lowest subspace index) — the
    * exact greedy argmin-load step per dim, the balance objective
    * faiss OPQ's rotation seeks restricted to permutations. Strictly
    * better-balanced than v102's round-robin deal whenever variance
    * tiers are uneven (round-robin fixes the bin BEFORE seeing the
    * loads). All comparisons on exact BigInts; the 64-entry stats
    * collect is bounded by contract. Returns (dim, sub, slot,
    * varnum) in selection order per subspace. */
  private[graft] def opqGreedyAlloc(s: SparkSession, d: String)
      : IndexedSeq[(Int, Int, Int, BigInt)] = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val rows = emb(s, d)
      .select(posexplode(quantize(col("embedding"))).as(Seq("pos", "qx")))
      .groupBy(col("pos").cast("int").as("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("qx").cast(dec)).as("sx"),
        sum(col("qx").cast(dec) * col("qx").cast(dec)).as("sx2"))
      .collect()
    require(rows.length == PqDim,
      s"opqGreedyAlloc: expected $PqDim dims, found ${rows.length}")
    val nums: Map[Int, BigInt] = rows.map { r =>
      val n = BigInt(r.getLong(1))
      val sx = BigInt(r.getDecimal(2).toBigInteger)
      val sx2 = BigInt(r.getDecimal(3).toBigInteger)
      r.getInt(0) -> (n * sx2 - sx * sx)
    }.toMap
    val cap = PqDim / PqM
    val ranked = (0 until PqDim).sortBy(dim => (-nums(dim), dim))
    val sums = Array.fill(PqM)(BigInt(0))
    val cnts = Array.fill(PqM)(0)
    ranked.map { dim =>
      val sub = (0 until PqM).filter(cnts(_) < cap)
        .minBy(j => (sums(j), j))
      val slot = cnts(sub)
      sums(sub) += nums(dim)
      cnts(sub) += 1
      (dim, sub, slot, nums(dim))
    }.toIndexedSeq
  }

  /** Gram-driven OPQ subspace allocation as a gated row — the greedy
    * least-loaded assignment table (dim, sub, slot, var_num), the
    * TRAINED permutation v129 serves under. var_num is the exact
    * integer variance numerator emitted as its deterministic
    * nearest-double (it passes 2⁶³ at the big-SF point — the v43
    * convention). */
  def v125OpqAlloc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    opqGreedyAlloc(s, d)
      .map { case (dim, sub, slot, vn) =>
        (dim.toLong, sub.toLong, slot.toLong, vn.toDouble)
      }.toDF("dim", "sub", "slot", "var_num")
  }

  /** v31's ADC chain over the GREEDY-allocation permutation (signs all
    * +1 — a pure permutation, exactly isometric): perm[sub·cap+slot] =
    * the allocated dim. */
  private[graft] def opqAllocSearch(s: SparkSession, d: String): DataFrame = {
    val cap = PqDim / PqM
    val perm = new Array[Int](PqDim)
    opqGreedyAlloc(s, d).foreach { case (dim, sub, slot, _) =>
      perm(sub * cap + slot) = dim
    }
    seededPqServe(s, d, applySignedPerm(_, perm, Array.fill(PqDim)(1)))
  }

  /** Greedy-allocation OPQ retrieval quality — v69's recall tail over
    * v125's permutation, completing the rotation-eval triple: (v69
    * seeded random, v102 round-robin deal, v129 greedy balance) at
    * identical code size — each training refinement's value is a
    * measured delta between gated rows. Same scale shape as v102:
    * one O(dims)-key exact aggregate collected to a 64-entry literal,
    * then the map-only encode + broadcast-table ADC + O(Q·k) top-k. */
  def v129OpqAllocRecall(s: SparkSession, d: String): DataFrame =
    recallRow(v1KnnL2(s, d), opqAllocSearch(s, d))

  /** Triplet mining — for each anchor, the nearest SAME-label vector
    * (hard positive) and the nearest DIFFERENT-label vector (hard
    * negative), the metric-learning batch-prep step behind the
    * reference's fine-tune loop (train_model.py's contrastive twin).
    * ONE pass over the gallery: the broadcast(anchors) crossjoin scores
    * every candidate exactly once, and both extrema come from the SAME
    * map-side-combined groupBy via conditional `min(struct(d2, gid))`
    * aggregates (lexicographic struct min = smallest distance, ties to
    * lowest id) — never two gallery scans, never a per-anchor sort
    * window. Shuffle is O(anchors), independent of gallery size; the
    * margin is an exact integer difference. */
  def v32TripletMine(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val g = e.select(col("vec_id").cast("long").as("gid"),
      col("label").cast("long").as("glabel"),
      quantize(col("embedding")).as("gv"))
    val q = queryVecs(e).select(col("vec_id").cast("long").as("query_id"),
      col("label").cast("long").as("qlabel"),
      quantize(col("embedding")).as("qv"))
    g.join(broadcast(q))
      .select(col("query_id"), col("gid"),
        intL2Sq(col("gv"), col("qv")).as("d2"),
        (col("glabel") === col("qlabel")).as("same"))
      .groupBy("query_id")
      .agg(
        min(when(col("same") && col("gid") =!= col("query_id"),
          struct(col("d2"), col("gid")))).as("pos"),
        min(when(!col("same"), struct(col("d2"), col("gid")))).as("neg"))
      .select(col("query_id"),
        col("pos.gid").as("pos_id"),
        distFromIntSq(col("pos.d2").cast("double")).as("pos_dist"),
        col("neg.gid").as("neg_id"),
        distFromIntSq(col("neg.d2").cast("double")).as("neg_dist"),
        (col("neg.d2") - col("pos.d2")).as("margin_d2"))
  }

  /** Per-dimension embedding profile — count/min/max/mean/variance per
    * coordinate, the feature-store health check that feeds SQ8 range
    * selection (v17's (min,max) pass generalized) and PCA/OPQ
    * diagnostics. The fan-out is a map-side `posexplode` of the
    * quantized vector (generated inside codegen — the corpus never
    * materializes a row per (vector, dim) beyond the map stage) into a
    * groupBy(dim) with map-side combine: shuffle volume is
    * O(partitions · dims), corpus-independent. Sums ride Decimal(38,0)
    * (DuckDB HUGEINT: Σx² at 100 TB passes Long's 2⁶³); variance is
    * v19's exact identity with one IEEE division per dim row. */
  def v33DimStats(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    emb(s, d)
      .select(posexplode(quantize(col("embedding"))).as(Seq("pos", "qx")))
      .groupBy(col("pos").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        min("qx").as("min_q"), max("qx").as("max_q"),
        sum(col("qx").cast(dec)).as("sx"),
        sum(col("qx").cast(dec) * col("qx").cast(dec)).as("sx2"))
      .select(col("dim"), col("n"), col("min_q"), col("max_q"),
        (col("sx").cast("double") / col("n")).as("mean_q"),
        when(col("n") >= 2,
          (col("n").cast(dec) * col("sx2") - col("sx") * col("sx"))
            .cast("double") / expr("n * (n - 1)").cast("double"))
          .otherwise(lit(0.0)).as("var_q"))
  }

  /** Exact Gram (second-moment) matrix over the embedding corpus — the
    * input of PCA / OPQ rotation training and whitening (what the
    * reference's scale path would feed an OPQ trainer; v31 consumes a
    * rotation like the one this matrix trains). Upper triangle only,
    * accumulated by the native [[graft.plans.GramAggregate]]: each
    * partition folds its rows' d·(d+1)/2 products into ONE 33 KB
    * primitive 128-bit buffer, so the shuffle carries one buffer per
    * partition — corpus-independent, with NO transient product rows.
    * (The previous HOF shape exploded 2,080 struct rows per vector
    * through nested `transform`/`flatten` — 10.4B transient rows at a
    * 5M-vector bench point — before a 2,080-key hash aggregate.)
    * 128-bit cells hold the 100 TB bound the old Decimal(38,0) sum
    * held and convert losslessly to the emitted Decimal; the mean is
    * one IEEE division of exact integers. The (cell → i, j) unmap
    * rides two triangle-sized literal arrays over the 1-row result. */
  def v34GramMatrix(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    val pairs = for { i <- 0 until dim; j <- i until dim } yield (i, j)
    val iLit = typedLit(pairs.map(_._1.toLong))
    val jLit = typedLit(pairs.map(_._2.toLong))
    import org.apache.spark.sql.GraftSqlBridge
    val gram = GraftSqlBridge.column(
      graft.plans.GramAggregate(
        GraftSqlBridge.expression(col("v"))).toAggregateExpression())
    emb(s, d)
      .select(quantize(col("embedding")).as("v"))
      .agg(count(col("v")).as("n"), gram.as("gram"))
      .select(col("n"), posexplode(col("gram")).as(Seq("cell", "sxy")))
      .select(element_at(iLit, col("cell").cast("int") + 1).as("i"),
        element_at(jLit, col("cell").cast("int") + 1).as("j"),
        col("n"), (col("sxy").cast("double") / col("n")).as("mean_xy"))
  }

  /** Two exact power-iteration steps toward the corpus's dominant PCA
    * direction, in the MATRIX-FREE form x_{k+1} = Gᵀ(G·x_k): the d×d
    * Gram matrix is never materialized (at d=4096 it would be, but G is
    * N×d with N→10⁹ — each step is two map passes over the gallery plus
    * one d-row reduce). Step 1 (y = A·1) stays in Long (bound
    * N·maxq²·d < 2⁶³ at any tested scale); step 2 rides Decimal(38,0)
    * ≡ HUGEINT (x2 ≤ ~10³⁵ at the data-bound point), emitted as the
    * deterministic nearest-double. The 64-long y literal is a
    * centroid-sized driver collect by contract. */
  def v43PowerIteration(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = emb(s, d).select(quantize(col("embedding")).as("v"))
    val y = g
      .select(col("v"), aggregate(col("v"), lit(0L), _ + _).as("sn"))
      .select(posexplode(col("v")).as(Seq("dim", "x")), col("sn"))
      .groupBy("dim").agg(sum(col("x") * col("sn")).as("y1"))
      .orderBy("dim").collect().map(_.getAs[Long]("y1")).toSeq
    val ylit = typedLit(y)
    g.select(col("v"),
        aggregate(zip_with(col("v"), ylit, (gj, yj) => gj.cast(dec) * yj),
          lit(0).cast(dec), (a, b) => a + b).as("tn"))
      .select(posexplode(col("v")).as(Seq("dim", "x")), col("tn"))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(sum(col("x").cast(dec) * col("tn")).as("x2d"))
      .select(col("dim"),
        element_at(ylit, col("dim").cast("int") + 1).as("y1"),
        col("x2d").cast("double").as("x2"))
  }

  /** Label-outlier detection — vectors far from their own class
    * centroid (mislabel / noise candidates, the embedding-space data-
    * quality pass every labeled corpus runs before training). The
    * centroid is never a float: v14's exact trick scores each member
    * against its class as A = Σ_d (n·x_d − S_d)², accumulated in
    * Decimal(38,0), and the outlier rule is the exact cross-multiplied
    * comparison A·n > 4·ΣA (distance² above 4× the class mean — 2× the
    * RMS radius) — no float threshold anywhere; the reported distance
    * is the v14 `sqrt(A)/(n·scale)` IEEE pair. Two passes over the
    * corpus (class sums, then score+flag), both map-side-combined
    * aggregates; class stats are O(classes) rows and broadcast. */
  def v35LabelOutliers(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = emb(s, d).select(col("vec_id").cast("long").as("vec_id"),
      col("label").cast("long").as("label_id"),
      quantize(col("embedding")).as("qv"))
    val cs = Centroids.classSums(g, "label_id", "qv")
    val a = aggregate(
      zip_with(col("qv"), col("svec"), (xi, si) => {
        val diff = (col("n") * xi - si).cast(dec) // widen BEFORE squaring
        diff * diff
      }),
      lit(0L).cast(dec), (acc, x) => acc + x)
    val scored = g.join(broadcast(cs), col("label_id") === col("lab"))
      .select(col("vec_id"), col("label_id"), col("n"), a.as("a"))
    val classAgg = scored.groupBy(col("label_id").as("lab2"))
      .agg(sum(col("a")).as("sum_a"))
    scored.join(broadcast(classAgg), col("label_id") === col("lab2"))
      .select(col("vec_id"), col("label_id"),
        (sqrt(col("a")) / (col("n") * lit(DefaultScale)).cast("double"))
          .as("dist"),
        when(col("a") * col("n").cast(dec) > lit(4).cast(dec) * col("sum_a"),
          1L).otherwise(0L).as("is_outlier"))
  }

  /** Incremental IVF maintenance — the ingest-time shape of a LIVE
    * vector index (the d9 seen-index pattern applied to the reference's
    * persisted FAISS index, faiss_utils.py:11-17): the assigned index
    * (vec_id → centroid) is persisted ONCE through the bucketed store,
    * bucketed by vec_id; an arriving batch (possibly re-delivered —
    * at-least-once ingest) anti-joins the index on vec_id so only
    * genuinely-new vectors pay the assignment pass, and the merged
    * per-centroid occupancy comes from the index-side counts plus the
    * new assignments. The anti-join probes co-located buckets with no
    * index-side exchange (merge hint pins sort-merge, mirroring d9 —
    * a 100 TB index is never broadcast-sized); assignment itself is
    * IvfIndex.assign's map-only literal-folded argmin. The batch here
    * is vec_id % 3 == 0 (overlapping the % 4 != 0 base, so the
    * dedup-by-id path is genuinely exercised: only % 12 == 0 ids are
    * new). */
  def v27IvfUpsert(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cents = seedCentroids(e)
    // table name carries a data fingerprint: a regenerated-in-place
    // embeddings.parquet mints a new table instead of a stale probe
    val table = Store.name("graft_ivf_idx", d)
    val base = BucketedStore.ensure(s, table,
      IvfIndex.assign(e.filter(col("vec_id") % 4 =!= 0), cents,
        "vec_id", "embedding", "cid")
        .select(col("id"), col("centroid_id")),
      "id", numBuckets = 32)
    val batch = e.filter(col("vec_id") % 3 === 0)
    val newVecs = batch.join(base.hint("merge"),
      batch("vec_id") === base("id"), "left_anti")
    val nNew = IvfIndex.assign(newVecs, cents, "vec_id", "embedding", "cid")
      .groupBy("centroid_id").agg(count(lit(1)).as("n_new"))
    val nBase = base.groupBy("centroid_id").agg(count(lit(1)).as("n_base"))
    nBase.join(nNew, Seq("centroid_id"), "full")
      .select(col("centroid_id"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        (coalesce(col("n_base"), lit(0L)) + coalesce(col("n_new"), lit(0L)))
          .as("n_total"))
  }

  /** Per-class embedding compactness — mean intra-class squared L2 —
    * WITHOUT any pairwise join: the centroid identity
    * `Σ_{i<j}||xi−xj||² = n·Σ||xi||² − ||Σxi||²` turns an O(N²/labels)
    * self-join into two O(N) aggregates on (label) / (label, dim) keys,
    * both map-side combined. Sums ride Decimal(38,0) (mirrors DuckDB's
    * HUGEINT) so the identity is exact at any class size; the one IEEE
    * division sequence is identical on both engines. The embedding-
    * quality diagnostic every gallery build should ship with. */
  def v19ClassCompactness(s: SparkSession, d: String): DataFrame =
    Centroids.classCompactness(emb(s, d), "label", "embedding")

  /** Recall@5 of the LSH path (v10) against the exact scan (v1), per
    * query — ANN quality evaluation as a first-class gated operator,
    * not just a probe script. Both sides are tiny (Q·k rows); the join
    * broadcasts. */
  def v20RecallEval(s: SparkSession, d: String): DataFrame =
    recallRow(v1KnnL2(s, d), v10LshSearch(s, d))

  /** PQ-ADC retrieval quality — recall@5 of v11's 8-byte-code search
    * vs v1's exact scan (the v20 recipe pointed at the PQ path): the
    * number a deployment watches before swapping the exact scan for
    * the quantized index at 100 TB. Both inputs are already-gated
    * O(Q·k) results → broadcast join, tiny aggregate. */
  def v36PqRecall(s: SparkSession, d: String): DataFrame =
    recallRow(v1KnnL2(s, d), v11PqAdc(s, d))

  /** IVF list-balance diagnostic — faiss's imbalance factor
    * nlist·Σnᵢ²/(Σnᵢ)² over the coarse assignment (1.0 = perfectly
    * balanced lists; the number that predicts probe-search tail
    * latency, because a hot list serves every query routed to it).
    * One O(nlist) aggregate over v6's gated assignment; numerator and
    * denominator are exact Longs, ONE IEEE division at the end. */
  def v37IvfBalance(s: SparkSession, d: String): DataFrame =
    v6IvfAssign(s, d)
      .agg(count(lit(1)).as("nlist"),
        sum("n").cast("long").as("n_total"),
        max("n").as("max_n"), min("n").as("min_n"),
        sum(col("n") * col("n")).cast("long").as("sum_sq"))
      .select(col("nlist"), col("n_total"), col("max_n"), col("min_n"),
        ((col("nlist") * col("sum_sq")) /
          (col("n_total") * col("n_total"))).as("imbalance"))

  /** IVF-path retrieval quality — recall@3 of v7's nprobe=2 probe
    * search vs the exact top-3 scan: one point on the nprobe/recall
    * tuning curve (v36's recipe pointed at the partition-pruned
    * index). The recall an operator loses to probe pruning is the
    * engine's core speed/quality dial at 100 TB; both inputs are
    * gated O(Q·k) results → broadcast join, tiny aggregate. */
  def v39IvfRecall(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    recallRow(KnnJoin.knnL2(e, queryVecs(e),
        "vec_id", "embedding", "vec_id", k = 3),
      v7IvfSearch(s, d), "recall_at_3")
  }

  /** LSH bucket-occupancy histogram — v37's imbalance diagnostic for
    * the hyperplane index: how many buckets hold how many vectors (the
    * number that decides between more planes and multi-probe). Two
    * map-side-combined rollups collapse the corpus to O(2^planes) then
    * O(distinct sizes) rows. */
  def v45LshBucketStats(s: SparkSession, d: String): DataFrame =
    LshIndex.bucketed(emb(s, d), "vec_id", "embedding", dim = 64,
        nPlanes = 6)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .groupBy(col("n").as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
      .withColumn("n_vectors", col("bucket_size") * col("n_buckets"))

  /** The nprobe/recall tuning CURVE (v39 is one point of it): overall
    * recall@3 of the IVF probe search at nprobe ∈ {1,2,4} — the table
    * a deployment reads to trade scan fraction against recall. The
    * assignment index builds ONCE and is reused by all three searches;
    * each curve point joins two O(Q·k) frames and reduces to one row,
    * so the whole curve costs three probe searches, not three index
    * builds. Exact-integer hit counts; ONE IEEE division per row. */
  def v46ProbeCurve(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cents = seedCentroids(e)
    val index = IvfIndex.assign(e, cents, "vec_id", "embedding", "cid")
    val exact = KnnJoin.knnL2(e, queryVecs(e),
        "vec_id", "embedding", "vec_id", k = 3)
      .select(col("query_id"), col("neighbor_id"))
    Seq(1, 2, 4).map { np =>
      val approx = IvfIndex.search(index, cents, queryVecs(e),
          "vec_id", "embedding", "cid", "vec_id", k = 3, nprobe = np)
        .select(col("query_id").as("qa"), col("neighbor_id").as("na"))
      exact.join(broadcast(approx),
          col("query_id") === col("qa") &&
            col("neighbor_id") === col("na"), "left")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("na").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        .select(lit(np.toLong).as("nprobe"), col("n_hit"), col("n_total"))
    }.reduce(_ unionByName _)
      .withColumn("recall", col("n_hit") / col("n_total"))
  }

  /** Recall@k sweep for the PQ-ADC path — recall at k ∈ {1,3,5} from
    * ONE approximate and ONE exact ranking (the k-axis companion of
    * v46's nprobe sweep: together they span the serving quality
    * surface). Both rankings are the already-gated chains (v11, v1);
    * the sweep itself joins two O(Q·5) frames once and reduces three
    * filtered counts — no per-k re-search, no re-scan of the gallery.
    * Counts are exact Longs; ONE IEEE division per row. */
  def v50RecallCurve(s: SparkSession, d: String): DataFrame = {
    val approx = v11PqAdc(s, d)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("ra"))
    // r14 optimization (guide §1.2/§3.3): the exact ranking feeds the
    // join AND the query count — checkpointed (O(Q·5) rows), the v1
    // chain is computed once, not twice.
    val exact = v1KnnL2(s, d)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("re"))
      .localCheckpoint(false)
    val j = exact.join(broadcast(approx), Seq("query_id", "neighbor_id"))
    val nq = exact.agg(countDistinct("query_id").as("nq"))
    // r14 optimization: the three k-cut counts come out of ONE
    // aggregate over ONE pass of the joined frame — count(when(pred,1))
    // counts exactly the rows the r13 filter kept (count ignores
    // nulls), so each (k, n_hit) row is identical; the v11+v1 subtrees
    // stop appearing three times in the plan (66 exchanges → one
    // chain's worth).
    val hits = j.agg(
      count(when(col("ra") <= 1 && col("re") <= 1, 1)).as("h1"),
      count(when(col("ra") <= 3 && col("re") <= 3, 1)).as("h3"),
      count(when(col("ra") <= 5 && col("re") <= 5, 1)).as("h5"))
    hits.crossJoin(broadcast(nq))
      .selectExpr(
        "stack(3, 1L, h1, 3L, h3, 5L, h5) AS (k, n_hit)", "nq")
      .select(col("k"), col("n_hit"), (col("k") * col("nq")).as("n_total"),
        (col("n_hit") / (col("k") * col("nq"))).as("recall"))
  }

  /** Maximum-inner-product search (MIPS) — the faiss IndexFlatIP
    * metric, the retrieval mode recommendation/embedding-score systems
    * use where L2 is wrong (un-normalized vectors). Same harness as
    * v1; ranking on the exact integer dot, descending. */
  def v23Mips(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    KnnJoin.knnDot(e, queryVecs(e), "vec_id", "embedding", "vec_id", k = 5)
  }

  /** Binary-code ANN: top-k nearest by HAMMING distance over the
    * 64-bit SimHash fingerprints (t-side twin: d3/d6) — the
    * binary-embedding retrieval modality (faiss IndexBinaryFlat).
    * Fingerprints pack to 4 longs; the scan is codegen'd
    * bit_count(XOR) against broadcast queries, top-k through the same
    * partial-merge aggregate as v1, so the shuffle is O(Q·k) while the
    * 100 TB gallery streams 32 bytes/row. */
  def v22HammingKnn(s: SparkSession, d: String): DataFrame = {
    val width = 16
    val packed = Dedup.simhash(docs(s, d), "doc_id", "text")
      .select(col("doc_id"),
        array((0 until 4).map(b =>
          conv(substring(col("simhash"), b * width + 1, width), 2, 10)
            .cast("long")): _*).as("fpv"))
    val q = packed.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("fpv").as("qfpv"))
    val ham = (0 until 4)
      .map(b => bit_count(element_at(col("fpv"), b + 1)
        .bitwiseXOR(element_at(col("qfpv"), b + 1))).cast("long"))
      .reduce(_ + _)
    val scored = packed.join(broadcast(q))
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        ham.cast("double").as("hamming"))
    TopK.perGroup(scored, "query_id", "neighbor_id", "hamming", k = 5,
      ascending = true)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("hamming").cast("long").as("hamming"))
  }

  /** Radius (range) search — faiss `range_search`: ALL neighbors
    * within distance r of each query, not a fixed k. The predicate is
    * the EXACT integer comparison d2 ≤ (r·scale)² — no float threshold
    * — applied map-side on the broadcast(queries) × gallery scan, so
    * output size is the only data-dependent cost (r = 1.2 admits ~1%
    * of pairs on this corpus; the 0.1% quantile is 1.085). */
  def v24RangeSearch(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val g = e.select(col("vec_id").cast("long").as("neighbor_id"),
      quantize(col("embedding")).as("gv"))
    val q = queryVecs(e).select(col("vec_id").cast("long").as("query_id"),
      quantize(col("embedding")).as("qv"))
    g.join(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        intL2Sq(col("gv"), col("qv")).as("d2"))
      .filter(col("d2") <= lit(144000000L)) // (1.2 * 10000)^2
      .select(col("query_id"), col("neighbor_id"),
        distFromIntSq(col("d2").cast("double")).as("dist"))
  }

  /** Ceiling integer square root (exact, BigInt): the completeness
    * bound of v101 must round UP or the admission proof breaks. The
    * double sqrt is only a SEED: the decrement loop fixes an
    * overshoot and the increment loop fixes an undershoot (possible
    * for n far above 2^53, where sqrt's absolute error can exceed the
    * +2 margin — ADVICE r11), so the result is the exact minimal x
    * with x² ≥ n regardless of seed quality. */
  private def bigIntSqrtCeil(n: BigInt): BigInt = {
    var x = BigInt(math.ceil(math.sqrt(n.toDouble)).toLong) + 2
    while (x > 0 && (x - 1) * (x - 1) >= n) x -= 1
    while (x * x < n) x += 1
    x
  }

  /** v101's candidate pairs: every (query, gallery) pair whose
    * SQ8-code distance clears the PROVABLY COMPLETE admission bound.
    * The encode (sqCodes) guarantees, per dim,
    * (x_i − mn_i)·levels ∈ [c_i·rng_i, (c_i+1)·rng_i), so for any two
    * vectors |levels·(x_i − y_i) − (cx_i − cy_i)·rng_i| < rng_i,
    * hence ‖levels·(x−y) − a‖² < Σ rng_i² for the code-space vector
    * a_i = (cx_i − cy_i)·rng_i. A true pair (‖x−y‖ ≤ r) therefore has
    * ‖a‖ < levels·r + √(Σ rng_i²): admitting codeD2 < (levels·r +
    * ceil√(Σ rng_i²))² can exclude NO true pair (spec-proven on the
    * fixture; all quantities exact integers). Scoring runs the SAME
    * fused integer kernel over the pre-scaled codes sx_i = c_i·rng_i,
    * read from v86's persisted fingerprinted code store. */
  private[graft] def sq8RangeCandidates(s: SparkSession, d: String)
      : DataFrame = {
    val levels = 255L
    val (_, rngs) = sqStats(s, d)
    val r = 12000L // √144,000,000 — v24's radius in quantized units
    val sumRngSq = rngs.map(g => BigInt(g) * BigInt(g)).sum
    val bound = {
      val b = BigInt(levels) * r + bigIntSqrtCeil(sumRngSq)
      b * b
    }
    require(bound.isValidLong, s"v101 bound overflows Long: $bound")
    // the admission kernel itself must not overflow: intL2Sq over the
    // pre-scaled codes sums 64 squared diffs each ≤ (levels·maxRng)²
    // (ADVICE r11 — the bound check alone doesn't cover the scan)
    require((BigInt(64) * (BigInt(levels) * rngs.max).pow(2)).isValidLong,
      s"v101 code-space L2 can overflow Long: maxRng=${rngs.max}")
    val table = Store.name("graft_sq8_codes", d)
    val coded = BucketedStore.ensure(s, table,
      sqCodes(s, d, levels = levels), "gid", numBuckets = 32)
    val rgLit = array(rngs.map(lit(_)).toIndexedSeq: _*)
    val scaled = coded.select(col("gid"),
      zip_with(col("cv"), rgLit, (c, rg) => c * rg).as("scv"))
    val qs = scaled.filter(col("gid") % 100 === 0)
      .select(col("gid").as("query_id"), col("scv").as("qscv"))
    scaled.join(broadcast(qs))
      .filter(intL2Sq(col("scv"), col("qscv")) < lit(bound.toLong))
      .select(col("query_id"), col("gid").as("neighbor_id"))
  }

  /** APPROXIMATE range search — v24's radius semantics behind an SQ8
    * code PREFILTER whose per-dim quantization step bounds the
    * code-vs-true distance error, so the code scan admits a provably
    * COMPLETE candidate set and only candidates pay the full-vector
    * verify (the d2 candidate+verify composition applied to range
    * queries; faiss range_search on a scalar-quantized index). The
    * oracle is v24's exact SQL VERBATIM — a transparency gate: the
    * prefilter must be lossless, not approximately right. At 100 TB
    * the admission scan reads 1-byte/dim codes from the persisted
    * store (~4× fewer bytes than the raw fixed-point vectors, shared
    * with v86) and the full vectors are fetched by id only for the
    * admitted O(candidates) pairs. */
  def v101RangePrefilter(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val g = e.select(col("vec_id").cast("long").as("neighbor_id"),
      quantize(col("embedding")).as("gv"))
    val q = queryVecs(e).select(col("vec_id").cast("long").as("query_id"),
      quantize(col("embedding")).as("qv"))
    // the candidate set is data-dependent (scales with in-radius mass)
    // — no broadcast hint on its gallery join, AQE sizes it (the
    // d12/q17 precedent); the query side is broadcast-sized by contract
    sq8RangeCandidates(s, d)
      .join(g, "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        intL2Sq(col("gv"), col("qv")).as("d2"))
      .filter(col("d2") <= lit(144000000L))
      .select(col("query_id"), col("neighbor_id"),
        distFromIntSq(col("d2").cast("double")).as("dist"))
  }

  /** KNN-vote classification — the reference app's ACTUAL label
    * semantics (app.py:171-174 displays the labels of the top-k hits;
    * the majority vote is the canonical classifier built on that):
    * per query, the modal label among its 5 nearest neighbors, ties to
    * the lowest label id. Hits and votes are O(Q·k) — both joins
    * broadcast, the vote aggregate is tiny. */
  def v25KnnClassify(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val meta = e.select(col("vec_id").cast("long").as("id"),
      col("label").cast("long").as("lab"))
    val hits = v1KnnL2(s, d).select("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("n_votes").desc, col("lab"))
    meta.join(broadcast(hits), col("id") === col("neighbor_id"))
      .groupBy("query_id", "lab")
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("lab").as("pred_label"),
        col("n_votes"))
  }

  def v9TrainValSplit(s: SparkSession, d: String): DataFrame =
    Sampling.hashSplit(emb(s, d), "vec_id")
      .groupBy(col("label").cast("long").as("label_id"), col("split"))
      .agg(count(lit(1)).as("n"))

  // ---------- dedup ----------

  def d1DedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(docs(s, d), "doc_id", "text")

  /** Prefix dedup — boilerplate detection by identical leading run
    * (crawled pages share headers/templates long before they share
    * whole bodies; prefix grouping is the cheap first pass before
    * near-dup). Groups docs by the md5 of their first 8 tokens and
    * keeps groups of >= 2. Map-only hash + one map-side-combined
    * groupBy — d1's exact-dedup shape on a weaker key; output is
    * O(duplicate groups), never corpus-sized. */
  def d15PrefixDup(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"),
        md5(array_join(slice(tokens(col("text")), 1, 8), " "))
          .as("prefix_hash"))
      .groupBy("prefix_hash")
      .agg(count(lit(1)).as("n"), min("doc_id").as("keep_id"))
      .filter(col("n") >= 2)

  def d2MinhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLsh(docs(s, d), "doc_id", "text")

  /** Shingle-containment near-dup pairs — the asymmetric dedup signal
    * (|A∩B| / min(|A|,|B|)) that catches a short doc embedded verbatim
    * in a longer one, which symmetric Jaccard dilutes as the length
    * gap grows. Same guarded LSH front end as d2 ([[Dedup
    * .containmentPairs]]); only the verify formula differs, so the
    * skew guard stays load-bearing here too. */
  def d17Containment(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(docs(s, d), "doc_id", "text")

  /** d2's MinHash-LSH pipeline with a BINDING mega-bucket cap
    * (maxBucket = 2 — sf0.01 has band buckets of size 3, so the guard
    * actually fires here): gates the skew-guard semantics themselves
    * under the hash oracle, not just the happy path where the cap is
    * slack. Pairs whose only collisions happen inside over-full buckets
    * are excluded BY DEFINITION (boilerplate exclusion, the d11 maxDf
    * precedent), and the oracle mirrors that exactly. */
  def d13BandCap(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLsh(docs(s, d), "doc_id", "text", maxBucket = 2L)

  /** Cross-source near-duplicate pairs — syndicated/mirrored content
    * spanning two sources (the contamination-adjacent signal a mixture
    * designer needs: shared mass between supposedly-independent
    * sources). Runs d2's guarded MinHash-LSH chain UNCHANGED, then
    * joins each side's source label back by id and keeps only pairs
    * whose sources differ. The pair set is data-dependent and scales
    * with the duplicate mass — at 100 TB it can be far past broadcast
    * size — so the two metadata joins carry NO broadcast hint: they
    * are plain doc_id equi-joins and AQE decides from the pair set's
    * measured size (the d12/q17 precedent), adding zero corpus-sized
    * shuffles to d2's plan beyond the id-keyed pair joins. */
  def d16CrossSourceDup(s: SparkSession, d: String): DataFrame = {
    val src = docs(s, d).select(col("doc_id").cast("long").as("doc_id"),
      col("source"))
    val pairs = Dedup.minhashLsh(docs(s, d), "doc_id", "text")
    val withA = src.join(pairs, col("doc_id") === col("a_id"))
      .select(col("a_id"), col("b_id"), col("source").as("a_source"),
        col("jaccard"))
    src.join(withA, col("doc_id") === col("b_id"))
      .filter(col("a_source") =!= col("source"))
      .select(col("a_id"), col("b_id"), col("a_source"),
        col("source").as("b_source"), col("jaccard"))
  }

  /** Normalization-aware exact dedup — d1 run AFTER t11's text
    * canonicalization (casefold, punctuation strip, whitespace
    * collapse): the cheap middle rung between byte-exact and MinHash
    * dedup that catches re-encoded/re-cased copies at exact-dedup
    * cost. One map-only normalize+hash pass, one hash-keyed groupBy
    * (map-side combined). Emits the full group manifest (d1's
    * contract — `n_docs` > 1 marks the collapsed groups) so the
    * downstream keep-filter is a trivial predicate; the md5 group key
    * is what ships at 100 TB — the normalized text itself never
    * shuffles. */
  def d21NormalizedDedup(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    docs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"),
        md5(norm).as("norm_hash"))
      .groupBy("norm_hash")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("rep_doc"))
  }

  def d3Simhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhash(docs(s, d), "doc_id", "text")

  def d4NgramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text", "source",
      shingleN = 2, threshold = 0.3)

  /** SimHash near-dup join — the dedup step d3's fingerprints feed:
    * Hamming-banded candidate generation (pigeonhole-complete for
    * distance <= 3 within surviving buckets) + exact Hamming
    * verification, with the oracle-mirrored mega-bucket guard
    * (Dedup.SimhashMaxBucket — slack at test SFs; d14 gates the
    * binding-cap path). */
  def d6SimhashDup(s: SparkSession, d: String): DataFrame =
    Dedup.simhashDup(docs(s, d), "doc_id", "text")

  /** d6's SimHash banded join with a BINDING mega-bucket cap
    * (maxBucket = 100 — sf0.01's hottest band bucket holds 159 docs,
    * so the guard actually fires here): gates the drop-the-bucket
    * semantics themselves under the hash oracle, the d13 recipe one
    * operator over. Pairs whose only band collisions happen inside
    * over-full buckets are excluded BY DEFINITION, mirrored exactly
    * by the oracle's capped banding. */
  def d14SimhashCap(s: SparkSession, d: String): DataFrame =
    Dedup.simhashDup(docs(s, d), "doc_id", "text", maxBucket = 100L)

  /** d7's component labels (id, cluster_id) served from the bucketed
    * store — the build-once accessor for the whole clustering family
    * (d7 report, d18 sizes, d19 keeper pick, p7 yield, p8 manifest).
    * A dedup pipeline materializes the cluster assignment ONCE per
    * corpus snapshot and every downstream policy reads it; charging
    * the edge build + label propagation to each of five reports is the
    * per-query-rebuild anti-shape the d9/v64 stores already retired.
    * Bucketed+sorted by id, so the id-keyed metadata joins in
    * d19/p7/p8 read co-located buckets; the source fingerprint in the
    * table name re-mints the assignment when documents.parquet
    * changes. */
  private def persistedDupLabels(s: SparkSession, d: String): DataFrame = {
    val table = Store.name("graft_dup_clusters", d, "documents.parquet")
    BucketedStore.ensure(s, table,
      Clustering.connectedComponents(
        Dedup.simhashDupEdges(docs(s, d), "doc_id", "text"), "a_id", "b_id",
        docs(s, d).select(col("doc_id")), "doc_id"),
      "id", numBuckets = 32)
  }

  /** Near-dup CLUSTERS: connected components over SimHash spanning
    * edges, cluster id = min doc_id in the component, plus member
    * count. The keep-one-per-cluster dedup decision reads straight off
    * this (keep doc_id == cluster_id).
    *
    * The edge set is Dedup.simhashDupEdges, NOT d6's pair output:
    * identical-fingerprint docs contract to star edges (a 10⁶-copy
    * boilerplate family costs 10⁶−1 edges, never pairs²), and the
    * banded+guarded verification joins only distinct-fingerprint
    * representatives. Components are provably identical to the
    * all-pairs graph whenever the cap is slack (it is at every test
    * SF), and the oracle mirrors the contraction + cap exactly. */
  def d7DupClusters(s: SparkSession, d: String): DataFrame = {
    val labels = persistedDupLabels(s, d)
    // member counts via groupBy + equi-join back, NEVER a
    // partitionBy(cluster_id) window: a window puts an entire mega
    // boilerplate family (the exact skew the band guard exists for) on
    // ONE task, while the groupBy partial-aggregates map-side and the
    // join-back redistributes the cluster evenly. Same shape as d18.
    val sizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).cast("long").as("n_members"))
    labels.join(sizes, "cluster_id")
      .select(col("id").as("doc_id"), col("cluster_id"), col("n_members"))
  }

  /** Cluster-size distribution over d7's near-dup components — the
    * dedup-YIELD report a pipeline publishes before committing a
    * representative-selection policy (how much mass sits in large
    * boilerplate families vs pairs). Reuses the gated clustering
    * chain, then two O(clusters) map-side-combined rollups; output is
    * O(distinct sizes) rows. */
  def d18ClusterSizes(s: SparkSession, d: String): DataFrame =
    persistedDupLabels(s, d)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"))
      .groupBy("n_members")
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("n_members") * col("n_clusters"))

  /** Dedup threshold-tuning curve — pairs per Jaccard decile with the
    * cumulative count at-or-above each decile: the yield table a
    * pipeline reads to pick its near-dup threshold before committing a
    * d2 run. Rides d10's guarded candidate+verify chain; the decile is
    * EXACT integer floor((10·inter)/uni) — never a float-boundary
    * bucket; the cumulative window runs over ≤11 rows (decile-bounded
    * by construction, never corpus-scale). */
  def d20ThresholdCurve(s: SparkSession, d: String): DataFrame = {
    // threshold 0.0 keeps every verified candidate (a null-jaccard
    // empty-shingle pair drops on both engines: uni = 0 ⇒ no decile)
    val counts = Dedup.minhashLsh(docs(s, d), "doc_id", "text",
        threshold = 0.0)
      .select(expr("(inter * 10) div uni").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.withColumn("cum_pairs", sum("n_pairs").over(w))
  }

  /** Canonical-representative selection — the "which copy do we keep"
    * step a dedup pipeline runs after clustering: per near-dup cluster,
    * keep the longest document (n_chars, ties to min doc_id). Reuses
    * d7's gated component chain; the pick is ONE aggregation using
    * lexicographic struct-max (n_chars, −id) — no per-cluster window,
    * no shuffle beyond the cluster groupBy, and cluster sizes are
    * bounded by the simhash band guard so no group is degenerate. */
  def d19RepPick(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val labels = persistedDupLabels(s, d)
    val meta = dd.select(col("doc_id").cast("long").as("id"),
      col("n_chars").cast("long").as("n_chars"))
    labels.join(meta, "id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_chars"), (-col("id")).as("nid"))).as("m"),
        sum("n_chars").as("total_chars"))
      .select(col("cluster_id"), col("n_members"),
        (-col("m.nid")).as("keep_id"),
        col("m.n_chars").as("keep_n_chars"), col("total_chars"))
  }

  /** Incremental (seen-index) dedup — the ingest-time shape: a new
    * batch of documents anti-joined against the accumulated content-hash
    * index, so only never-seen content survives. The batch here is the
    * doc_id % 4 == 0 quarter of the corpus; the other three quarters
    * play the seen index — and the index side runs THROUGH the bucketed
    * store it would be at 100 TB: persisted once bucketed by text_hash
    * ([[graft.sources.BucketedStore.ensure]], write-once/join-many), so
    * the anti-join probes co-located buckets with NO exchange on the
    * index side (the merge hint pins the sort-merge path; the history
    * table is never broadcast-sized in production). The batch side's
    * single exchange is then reused by the downstream groupBy on the
    * same text_hash key. */
  def d9IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    // fingerprint suffix: regenerated documents.parquet ⇒ fresh index
    val table = Store.name("graft_seen_idx", d, "documents.parquet")
    val seen = BucketedStore.ensure(s, table,
      all.filter(col("doc_id") % 4 =!= 0)
        .select(md5(col("text")).as("text_hash")),
      "text_hash", numBuckets = 32)
    Dedup.incremental(all.filter(col("doc_id") % 4 === 0), "doc_id", "text",
      seen.hint("merge"))
  }

  /** MinHash-estimated vs exact Jaccard on the d2 candidate pairs —
    * gates the ESTIMATOR the scale path trusts when exact verification
    * is too expensive (see Dedup.minhashEstimate). */
  def d10MinhashEstimate(s: SparkSession, d: String): DataFrame =
    Dedup.minhashEstimate(docs(s, d), "doc_id", "text")

  /** Passage-overlap pairs by shared winnowing fingerprints (see
    * Dedup.overlapPairs) — the partial-copy detector whole-doc Jaccard
    * misses. */
  def d11OverlapPairs(s: SparkSession, d: String): DataFrame =
    Dedup.overlapPairs(docs(s, d), "doc_id", "text")

  /** Edit-distance verification of the MinHash candidate pairs — the
    * character-level second opinion on d2's token-level verdicts
    * (catches e.g. reorderings that keep shingle sets close). Native
    * `levenshtein` on BOTH engines; O(|a|·|b|) per pair is affordable
    * precisely because it only runs on the O(candidates) pair set,
    * never the corpus — the candidate-then-verify composition is the
    * point at 100 TB. DuckDB's levenshtein counts byte edits while
    * Spark's counts char edits (identical for ASCII), so the ASCII
    * domain is ENFORCED, not just declared: both engines restrict the
    * pair set to pairs whose texts are pure ASCII (the same anchored
    * character-class regex is valid under Java regex and RE2). No
    * broadcast hint on the candidate side — candidates scale with the
    * corpus's similarity structure, not a constant, so AQE decides at
    * runtime (it still broadcasts whenever the set is actually small). */
  def d12EditDistance(s: SparkSession, d: String): DataFrame = {
    val pairs = d2MinhashPairs(s, d).select("a_id", "b_id")
    val ascii = "^[\\x00-\\x7F]*$"
    val t = docs(s, d).select(col("doc_id").cast("long").as("doc_id"),
      col("text"))
      .filter(col("text").rlike(ascii))
    t.select(col("doc_id").as("a_id"), col("text").as("ta"))
      .join(pairs, "a_id")
      .join(t.select(col("doc_id").as("b_id"), col("text").as("tb")),
        "b_id")
      .withColumn("edit_dist",
        levenshtein(col("ta"), col("tb")).cast("long"))
      .select(col("a_id"), col("b_id"), col("edit_dist"),
        (lit(1.0) - col("edit_dist")
          / greatest(length(col("ta")), length(col("tb"))).cast("long"))
          .as("sim"))
  }

  /** Embedding near-dup with the SCALE-SAFE blocker under the gate: the
    * block key is a 6-plane random-hyperplane LSH bucket (the same
    * seed-fixed quantized planes v10's search gates, so the DuckDB twin
    * folds identical plane literals) — bucket population is controlled
    * by the BIT WIDTH, corpus-independently, where a label blocker goes
    * quadratic on its hottest label as the corpus grows. Within-bucket
    * pairs are verified by exact fixed-point cosine. */
  def d5EmbeddingDup(s: SparkSession, d: String): DataFrame = {
    val planes = LshIndex.hyperplanes(dim = 64, nPlanes = 6, seed = 42L)
    val bucketed = emb(s, d).select(col("vec_id"), col("embedding"),
      LshIndex.bucketKey(col("embedding"), planes).as("bucket"))
    Dedup.embeddingNearDup(bucketed, "vec_id", "embedding", "bucket",
      threshold = 0.35)
  }

  /** Top-3 TF-IDF terms per document — the feature-extraction twin of
    * t5's corpus-level term counts. Exactness: score = (tf·N)/df with
    * an exact integer numerator and ONE IEEE division (no log-idf —
    * transcendental libm results are not bit-portable across engines);
    * rank ties broken by term. Document frequency comes from a
    * groupBy("term") aggregate joined back on term — NOT a
    * term-partitioned window: a window would shuffle every (doc, term)
    * tf row of a stop-term like "the" (present in ~every document) to
    * ONE task, the classic hot-key sort; the aggregate's map-side
    * combine ships at most one partial count per (term, partition)
    * instead, and the equi-join back stays key-local on the same term
    * partitioning (the tf exchange is reused across both branches).
    * N rides in as a broadcast 1-row aggregate, never a driver count. */
  def t8Tfidf(s: SparkSession, d: String): DataFrame = {
    val terms = docs(s, d).select(col("doc_id").cast("long").as("doc_id"),
      explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val total = docs(s, d).agg(count(lit(1)).as("n_docs"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df, "term")
      .crossJoin(broadcast(total))
      .withColumn("score", (col("tf") * col("n_docs")) / col("df"))
      .withColumn("rk", row_number()
        .over(Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term"))).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("tf").cast("long").as("tf"),
        col("df").cast("long").as("df"), col("score"), col("rk"))
  }

  /** Benchmark-contamination detection — the decontamination pass every
    * training-data pipeline runs: train-side documents sharing >= 3
    * distinct 5-gram shingles with any benchmark ("src0") document.
    * The benchmark side is SMALL by nature (MBs of eval sets vs TBs of
    * train data), so its exploded shingle index BROADCASTS and the 100
    * TB train side streams map-only through the hash join; the only
    * shuffle is the per-pair count aggregate on O(contaminated) rows.
    * Shingles are distinct per doc, so the join count IS the exact
    * intersection size. */
  def d8Contamination(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id").cast("long").as("doc_id"),
      col("source"), shingles(col("text"), 5).as("sh"))
    val ev = base.filter(col("source") === "src0")
      .select(col("doc_id").as("eval_id"), explode(col("sh")).as("sg"))
    val tr = base.filter(col("source") =!= "src0")
      .select(col("doc_id").as("train_id"), explode(col("sh")).as("sg"))
    tr.join(broadcast(ev), "sg")
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
  }

  // ---------- pipeline composition ----------

  /** End-to-end corpus cleaning — the composite pass a training-data
    * pipeline runs before tokenization: language filter (t1) → quality
    * filter (t2) → exact content-hash dedup (d1) → MinHash-LSH near-dup
    * pairs (d2) → connected-component clustering (d7) → keep one
    * representative document per cluster. Every stage is an
    * independently gated operator; this key gates their COMPOSITION as
    * one lazy plan (filters reach the scan once, the only shuffles are
    * the content-hash aggregate, the band self-join, and the label
    * rounds). Output: surviving docs with their stats. */
  def p1CorpusClean(s: SparkSession, d: String): DataFrame = {
    val enriched = docs(s, d).select(
      col("doc_id").cast("long").as("doc_id"), col("text"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      qualityScore(col("text")).as("score"),
      langId(col("text")).as("lang"))
    val filtered = enriched
      .filter(col("lang") === "en" && col("score") >= 0.4)
    val keepIds = filtered
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    // The cleaned corpus feeds FOUR consumers (minhash banding, pair
    // verification, the clustering node set, the final stats join);
    // checkpointing materializes the scan+score+dedup subplan once
    // instead of once per consumer (same pattern as the edge frame in
    // connectedComponents; at cluster scale: checkpoint to storage).
    val kept = filtered
      .join(keepIds.select("doc_id"), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val pairs = Dedup.minhashLsh(kept, "doc_id", "text")
    val labels = Clustering.connectedComponents(
      pairs, "a_id", "b_id", kept.select(col("doc_id")), "doc_id")
    labels.filter(col("id") === col("cluster_id"))
      .join(kept.select(col("doc_id").as("id"), col("n_tokens"),
        col("score")), "id")
      .select(col("id").as("doc_id"), col("n_tokens"), col("score"))
  }

  // ---------- text analysis ----------

  def t1LangId(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id").cast("long").as("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      stopwordRatio(col("text")).as("stop_ratio"),
      langId(col("text")).as("lang_pred"))

  def t2QualityScore(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id").cast("long").as("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      qualityScore(col("text")).as("score"))

  def t3TokenCount(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id").cast("long").as("doc_id"),
      size(tokens(col("text"))).cast("long").as("ws_tokens"),
      regexTokenCount(col("text")).cast("long").as("re_tokens"),
      size(distinctTokens(col("text"))).cast("long").as("distinct_tokens"))

  def t4Fingerprint(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id").cast("long").as("doc_id"),
      md5(col("text")).as("full_md5"),
      minShingleFingerprint(col("text")).as("min_shingle_hash"))

  /** Top-5 terms per source by frequency (tie → lexicographic).
    *
    * Two-phase top-k: a single source-partitioned window would sort the
    * source's ENTIRE vocabulary on one task (the t8 hot-key pattern —
    * a web-scale source has 10⁸+ distinct terms). Phase 1 ranks within
    * (source, salt-of-token) partitions — 8 parallel sorts of vocab/8 —
    * and keeps each bucket's top 5; any global top-5 row is necessarily
    * in its own bucket's top 5, so phase 2's window ranks ≤ 40 rows per
    * source. Output provably identical to the one-window form. */
  def t5TopTerms(s: SparkSession, d: String): DataFrame = {
    val counts = docs(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token")
      .agg(count(lit(1)).as("n"))
    val w1 = Window.partitionBy(col("source"), col("_salt"))
      .orderBy(col("n").desc, col("token"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n").desc, col("token"))
    counts
      .withColumn("_salt", pmod(hash(col("token")), lit(8)))
      .withColumn("rk1", row_number().over(w1))
      .filter(col("rk1") <= 5)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select("source", "token", "n", "rnk")
  }

  /** Exact per-source token-count quantiles (p50/p90/p99) by positional
    * selection: value at rank ceil(q*n) in the per-source sort order.
    * Rank positions are EXACT INTEGER arithmetic — ceil(0.9*n) computed
    * as (9n+9) div 10, never a float ceil (0.9*10 = 9.0000000000000002
    * would ceil to 10).
    *
    * TWO-PHASE selection, never a whole-source row sort: phase 1 is a
    * map-side-combined groupBy(source, value) count — the only
    * corpus-sized shuffle, moving one row per DISTINCT (source, value).
    * Phase 2 ranks the distinct-value histogram with a cumulative-count
    * window; the value at rank r is the unique distinct value whose
    * cumulative range [cum−cnt, cum) covers r. The per-source window
    * sort now touches O(distinct token counts) rows — bounded by the
    * max document length, corpus-INDEPENDENT — where the old form
    * sorted every document of a source on one task. Output identical:
    * the value at a fixed position in the sorted multiset depends only
    * on the histogram. */
  def t7LengthQuantiles(s: SparkSession, d: String): DataFrame = {
    val hist = docs(s, d)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("source", "n_tok")
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("source").orderBy("n_tok")
    val wAll = Window.partitionBy("source")
    def pick(rank: String) =
      max(when(expr(s"cum - cnt < $rank AND $rank <= cum"), col("n_tok")))
    hist
      .withColumn("cum", sum("cnt").over(wCum).cast("long"))
      .withColumn("n", sum("cnt").over(wAll).cast("long"))
      .groupBy("source")
      .agg(
        pick("(n + 1) div 2").as("p50"),
        pick("(9 * n + 9) div 10").as("p90"),
        pick("(99 * n + 99) div 100").as("p99"))
  }

  /** Gopher-style repetition signals per document — the quality gates a
    * training corpus filters on: top-unigram fraction (fraction of
    * tokens that are the single most frequent token), top-bigram
    * fraction, and type-token ratio. Entirely map-only: the modal counts
    * come from a linear aggregate over the sorted token array, never an
    * explode + per-doc shuffle, so the pass streams at scan speed at
    * 100 TB. */
  def t9Repetition(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat(element_at(toks, i + 1), lit(" "),
          element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    // two-step select: the modalCount aliases are referenced twice below,
    // so CollapseProject keeps this projection (single evaluation)
    val base = docs(s, d).select(
      col("doc_id").cast("long").as("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      modalCount(toks).as("top_token_n"),
      modalCount(bigrams).as("top_bigram_n"))
    base.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
      col("top_token_n"), col("top_bigram_n"),
      (col("top_token_n") / col("n_tokens")).as("top_token_frac"),
      (col("n_distinct") / col("n_tokens")).as("distinct_frac"),
      when(col("n_tokens") >= 2,
        col("top_bigram_n") / (col("n_tokens") - 1))
        .otherwise(lit(0.0)).as("top_bigram_frac"))
  }

  /** Classifier-evaluation confusion matrix: gold `lang` label × t1's
    * heuristic prediction. The eval shape every pipeline model (lang-ID,
    * quality filter, dedup verdicts) is scored with — one map-only
    * prediction pass + an O(labels²) aggregate. */
  def t10LangConfusion(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("lang"), langId(col("text")).as("lang_pred"))
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))

  /** CCNet-style text normalization BEFORE hashing — lowercase, strip
    * non-alphanumerics, collapse whitespace — the step web-scale dedup
    * runs so that trivial formatting differences don't defeat exact
    * dedup. Map-only `regexp_replace` chain (patterns restricted to
    * ASCII classes, identical under Java regex and RE2); emits the
    * normalized content hash d1-style dedup would key on. */
  def t11Normalize(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    docs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        norm.as("norm"))
      .select(col("doc_id"), md5(col("norm")).as("norm_hash"),
        length(col("norm")).cast("long").as("n_chars_norm"),
        when(col("norm") === col("text"), 1L).otherwise(0L)
          .as("unchanged"))
  }

  /** Trigram novelty rate — the rational-arithmetic stand-in for LM
    * perplexity filtering (a real LM score needs log-probs; libm logs
    * are not bit-portable, and the signal "how much of this document's
    * phrasing appears nowhere else" is the same boilerplate/template
    * detector). Per doc: the fraction of its DISTINCT trigrams with
    * corpus document-frequency 1 (trigrams, not bigrams — the bigram
    * space saturates on a bounded vocabulary and the rate collapses to
    * 0). Plan shape is t8's: trigram df via a map-side-combined
    * groupBy (one partial per (shingle, partition) — never a
    * shingle-partitioned window that would ship every row of a hot
    * shingle to one task), equi-join back on the shingle key (stays
    * on the df exchange's partitioning), then a per-doc aggregate.
    * Exact integer counts; the one IEEE division is the final rate. */
  def t13Novelty(s: SparkSession, d: String): DataFrame = {
    val bg = docs(s, d).select(col("doc_id").cast("long").as("doc_id"),
      explode(shingles(col("text"), 3)).as("bg"))
    val df = bg.groupBy("bg").agg(count(lit(1)).as("df"))
    bg.join(df, "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty", col("n_unique") / col("n_trigrams"))
  }

  /** Lexical-diversity profile — token/type/hapax counts per document,
    * the vocabulary-richness signal (type-token ratio, hapax fraction)
    * quality pipelines use alongside t9's repetition stats. MAP-ONLY:
    * one `array_sort` + one linear `aggregate` pass per doc (the
    * modalCount pattern) — types are runs in the sorted token array,
    * hapaxes are runs of length exactly 1 — so the corpus never
    * explodes to a token table and the operator is a single
    * whole-stage-codegen scan at any SF. The fractions divide the same
    * two exact Longs in both engines (one IEEE division — bit-equal). */
  def t14Hapax(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    val stats = aggregate(array_sort(toks),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("types"), lit(0L).as("hapax")),
      (acc, x) => {
        val same = acc.getField("prev") <=> x
        struct(
          x.as("prev"),
          when(same, acc.getField("run") + 1L).otherwise(1L).as("run"),
          when(same, acc.getField("types"))
            .otherwise(acc.getField("types") + 1L).as("types"),
          when(same, acc.getField("hapax"))
            .otherwise(acc.getField("hapax") +
              when(acc.getField("run") === 1L, 1L).otherwise(0L))
            .as("hapax"))
      },
      acc => struct(
        acc.getField("types").as("types"),
        (acc.getField("hapax") +
          when(acc.getField("run") === 1L, 1L).otherwise(0L)).as("hapax")))
    // two-step select (the t9 idiom): the stats struct is referenced
    // twice below, so CollapseProject keeps a single evaluation
    val base = docs(s, d).select(
      col("doc_id").cast("long").as("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      stats.as("st"))
    base.select(col("doc_id"), col("n_tokens"),
      col("st.types").as("n_types"), col("st.hapax").as("n_hapax"))
      .withColumn("ttr", col("n_types") / col("n_tokens"))
      .withColumn("hapax_frac", col("n_hapax") / col("n_tokens"))
  }

  /** Sliding-window token chunking — the context-window prep step every
    * embedding/RAG/training pipeline runs (64-token chunks, stride 48,
    * 16-token overlap). MAP-ONLY: chunk starts are
    * `posexplode(sequence(0, n_tok−1, 48))` — generated inside codegen,
    * zero shuffle, no driver loop — and each chunk's token slice is
    * hashed in place (`md5` over the joined slice, engine-portable).
    * Output scales with Σ chunks, the partition count scales with the
    * corpus, and a 100 TB corpus streams through at scan speed. The
    * chunk CONTRACT (start multiples of the stride while start < n_tok;
    * last chunk may be short) is mirrored literally by the oracle. */
  def t15Chunks(s: SparkSession, d: String): DataFrame = {
    val chunkTok = 64L
    val stride = 48L
    docs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
        col("toks"),
        posexplode(sequence(lit(0L), size(col("toks")).cast("long") - 1,
          lit(stride))).as(Seq("chunk_idx", "tok_start")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("tok_start"),
        least(lit(chunkTok), col("n_tok") - col("tok_start"))
          .as("n_chunk_toks"),
        md5(array_join(
          slice(col("toks"), (col("tok_start") + 1).cast("int"),
            lit(chunkTok.toInt)), " ")).as("chunk_hash"))
  }

  /** Corpus bigram language model — per head token, the total
    * continuation count and the modal next token with its conditional
    * probability (the count-based LM / autocomplete primitive).
    * Positional bigrams fan out map-side (a codegen'd `transform` over
    * token positions — never a self-join of the token table on adjacent
    * positions); the bigram rollup is one map-side-combined groupBy
    * over O(vocab²ish) observed pairs; and the per-head argmax is the
    * q22 `max(struct(n, w2))` aggregate — O(heads) rows, ties to the
    * lexicographically LAST continuation, mirrored by the oracle's
    * ORDER BY — never a window over a hot head's continuations (a stop
    * word heads a large fraction of a web corpus's bigrams). Heads
    * under 10 observations are dropped (both engines). */
  def t16BigramLm(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    val pairs = docs(s, d)
      .select(explode(when(size(toks) >= 2,
        transform(sequence(lit(0), size(toks) - 2),
          i => struct(element_at(toks, i + 1).as("w1"),
            element_at(toks, i + 2).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .groupBy("w1")
      .agg(sum("n").as("n_head"),
        max(struct(col("n"), col("w2"))).as("top"))
      .filter(col("n_head") >= 10L)
      .select(col("w1"), col("n_head"),
        col("top.w2").as("top_next"), col("top.n").as("n_top"),
        (col("top.n") / col("n_head")).as("p_top"))
  }

  /** Training-mix table — per-source document/token mass and the
    * α=1 (token-proportional) sampling share every data-mixing step
    * consumes. Two aggregates: a map-side-combined per-source rollup
    * (O(sources) rows) and a 1-row corpus total that joins back as a
    * broadcast crossjoin (the q20 scalar pattern — never a window over
    * the whole table). The share divides two exact Longs once per
    * source row. Temperature-α variants (share^α re-normalized) are a
    * driver-side post-pass over these O(sources) rows by design: the
    * normalizer Σ shareᵃ is a float sum whose value depends on
    * accumulation order, so it has no bit-portable distributed form. */
  def p2MixtureWeights(s: SparkSession, d: String): DataFrame = {
    val per = docs(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("tot_tokens"))
    per.join(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens") / col("tot_tokens")).as("token_share"))
  }

  /** Token-budget apportionment — each source's share of a fixed
    * 1M-token sampling budget by LARGEST-REMAINDER rounding (Hamilton's
    * method): base_i = ⌊C·T_i/T⌋, then the leftover C − Σbase units go
    * one each to the sources with the largest remainders (ties to the
    * lexicographically first source). This is p2's mixture table made
    * EXECUTABLE — integer quotas that sum to exactly C, something a
    * float share table can't promise. All arithmetic is exact integer
    * div/mod on non-negative operands (portable); the ranking window
    * orders only the O(sources) frame. Leftover < #sources by
    * construction, so every extra is 0 or 1. */
  def p6TokenBudget(s: SparkSession, d: String): DataFrame = {
    val cap = 1000000L
    val per = docs(s, d).groupBy("source")
      .agg(sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val tot = per.agg(sum("n_tokens").cast("long").as("tot"))
    val w = per.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($cap * n_tokens) div tot"))
      .withColumn("rem", expr(s"($cap * n_tokens) % tot"))
    val left = w.agg((lit(cap) - sum("base")).cast("long").as("k"))
    w.crossJoin(broadcast(left))
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("rem").desc, col("source"))).cast("long"))
      .select(col("source"), col("n_tokens"), col("base"),
        when(col("rk") <= col("k"), 1L).otherwise(0L).as("extra"),
        (col("base") +
          when(col("rk") <= col("k"), 1L).otherwise(0L)).as("alloc"))
  }

  /** Cleaning-funnel attrition report — the observability row every
    * dedup pipeline publishes: how many documents survive each stage
    * of p1's chain (total → language → quality → exact-dedup →
    * near-dup representative). The first three counts are ONE
    * conditional aggregate over a single scan (no per-stage re-scan);
    * the dedup stages reuse p1's exact operators, reduced to 1-row
    * counts that compose by broadcast crossjoin (the q20 scalar
    * pattern). Shares every semantic with p1, so the funnel can never
    * disagree with the pipeline it reports on. */
  def p3CleanFunnel(s: SparkSession, d: String): DataFrame = {
    val enriched = docs(s, d).select(
      col("doc_id").cast("long").as("doc_id"), col("text"),
      qualityScore(col("text")).as("score"),
      langId(col("text")).as("lang"))
    val stages = enriched.agg(
      count(lit(1)).as("n_total"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_lang"),
      sum(when(col("lang") === "en" && col("score") >= 0.4, 1L)
        .otherwise(0L)).as("n_quality"))
    val filtered = enriched
      .filter(col("lang") === "en" && col("score") >= 0.4)
    val keepIds = filtered
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val kept = filtered
      .join(keepIds.select("doc_id"), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val labels = Clustering.connectedComponents(
      Dedup.minhashLsh(kept, "doc_id", "text"), "a_id", "b_id",
      kept.select(col("doc_id")), "doc_id")
    val nExact = kept.agg(count(lit(1)).as("n_exact"))
    val nFinal = labels.filter(col("id") === col("cluster_id"))
      .agg(count(lit(1)).as("n_final"))
    stages.crossJoin(broadcast(nExact)).crossJoin(broadcast(nFinal))
  }

  /** Mixture-rebalancing sampler — APPLIES p2's mixture table: documents
    * are down-sampled per source so every source contributes ~equal
    * token mass (the uniform-mixture target), via a deterministic
    * hash-threshold keep rule. The per-source threshold is EXACT integer
    * arithmetic in basis points — floor(tot·10⁴ / (nSources·srcTokens)),
    * capped at 10⁴ — computed from two tiny aggregates (per-source
    * rollup + 1-row total, the q20 scalar-broadcast pattern); the keep
    * decision `portableHash(doc_id) mod 10⁴ < thr` is map-only over the
    * corpus, the same congruent hash family as v5/v9 (reproducible,
    * engine-portable, no rand()). Shuffles: the per-source rollups only
    * — the corpus itself streams through one scan. */
  def p4QuotaSample(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id").cast("long").as("doc_id"),
      col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
    val per = base.groupBy("source").agg(sum("n_tok").as("src_tokens"))
    val tot = per.agg(sum("src_tokens").as("tot_tokens"),
      count(lit(1)).as("n_sources"))
    // threshold: floor(tot·10⁴ / (nSources·srcTokens)), all operands
    // positive Longs so div IS floor division on both engines
    val thr = per.join(broadcast(tot))
      .select(col("source"), col("src_tokens"),
        least(lit(10000L),
          expr("(tot_tokens * 10000L) div (n_sources * src_tokens)"))
          .as("thr_bp"))
    base.join(broadcast(thr), "source")
      .filter(pmod(Sampling.portableHash(col("doc_id")), lit(10000L))
        < col("thr_bp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs_kept"), sum("n_tok").as("n_tokens_kept"))
      .join(thr, "source")
      .select(col("source"), col("thr_bp"), col("src_tokens"),
        col("n_docs_kept"), col("n_tokens_kept"))
  }

  /** Per-source duplicate-rate observability — the corpus-health row a
    * dedup pipeline publishes per ingest source: doc count, distinct
    * content hashes, language spread, and the exact-dup rate. ONE
    * map-side-combined groupBy; both distincts run as Spark's standard
    * two-phase distinct aggregate (never a per-source set collect);
    * the rate divides two exact Longs once per source row. */
  def p5SourceDupRate(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct_texts"),
        countDistinct(col("lang")).as("n_langs"))
      .select(col("source"), col("n_docs"), col("n_distinct_texts"),
        col("n_langs"),
        (col("n_docs") - col("n_distinct_texts")).as("n_dups"),
        ((col("n_docs") - col("n_distinct_texts")) / col("n_docs"))
          .as("dup_rate"))

  /** Per-source vocabulary profile (the Heaps-law corpus diagnostic):
    * token mass, type count, hapax count, and type-token ratio per
    * source — the signal that separates template-heavy sources (tiny
    * vocabulary) from organic text. Plan is t8's df shape: one
    * map-side-combined groupBy(source, token) — NEVER a per-source
    * distinct-set collect or a source-partitioned window (a web-scale
    * source's vocabulary would hit one task) — then an O(vocab)
    * rollup per source; TTR divides two exact Longs once. */
  def t17SourceVocab(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok")
      .agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        sum("n").cast("long").as("n_tokens"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("n_hapax"), (col("n_types") / col("n_tokens")).as("ttr"))

  /** Head-coverage profile — per source, the fraction of (doc,
    * distinct-trigram) incidences covered by the source's top-10
    * trigrams by document frequency: the boilerplate-concentration
    * signal (template-heavy sources concentrate mass in few shingles)
    * that sizes stop-shingle lists for d2/d11's caps. Plan composes
    * the de-skew patterns: df via ONE map-side-combined
    * groupBy(source, shingle); top-10 through t5's SALTED two-phase
    * rank (a web-scale source's shingle vocabulary never sorts on one
    * task); totals as an O(sources) rollup equi-joined back; coverage
    * divides two exact Longs. */
  def t18NgramCoverage(s: SparkSession, d: String): DataFrame = {
    val df = docs(s, d)
      .select(col("source"), explode(shingles(col("text"), 3)).as("sh"))
      .groupBy("source", "sh")
      .agg(count(lit(1)).as("df"))
    val w1 = Window.partitionBy(col("source"), col("_salt"))
      .orderBy(col("df").desc, col("sh"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("df").desc, col("sh"))
    val top = df
      .withColumn("_salt", pmod(hash(col("sh")), lit(8)))
      .withColumn("rk1", row_number().over(w1))
      .filter(col("rk1") <= 10)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .groupBy("source")
      .agg(sum("df").cast("long").as("top_mass"))
    df.groupBy("source")
      .agg(sum("df").cast("long").as("n_incidences"))
      .join(top, "source")
      .withColumn("coverage", col("top_mass") / col("n_incidences"))
  }

  /** RAKE keyword scores (Rose et al. 2010) — candidate phrases are
    * maximal stopword-free token runs; each word scores
    * degree/frequency where degree sums the lengths of the phrases it
    * appears in. Phrase islands come from the pos − row_number
    * constant-difference key over PER-DOC windows (doc-length bounded,
    * the e18 gaps-and-islands shape — never a corpus sort); freq and
    * deg are exact Longs from map-side-combined aggregates; score is
    * one IEEE division. */
  def t20RakeKeywords(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d).select(col("doc_id").cast("long").as("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "term")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val ph = toks.filter(!col("term").isInCollection(stopwords))
      .withColumn("phrase_id", col("pos") - row_number().over(w))
    val plen = ph.groupBy("doc_id", "phrase_id")
      .agg(count(lit(1)).as("plen"))
    ph.join(plen, Seq("doc_id", "phrase_id"))
      .groupBy("term")
      .agg(count(lit(1)).as("freq"), sum("plen").cast("long").as("deg"))
      .withColumn("score", col("deg") / col("freq"))
  }

  /** χ²-keyness — the top-5 most source-DISTINCTIVE terms per source
    * (term-vs-rest 2×2 contingency χ², the corpus-comparison statistic
    * keyword/domain analysis uses). All contingency cells are exact
    * Longs from two map-side-combined rollups plus two tiny joined-back
    * total frames; χ² is computed in a FIXED left-associated double
    * expression over exactly-representable ints (every cell ≤ N < 2⁵³),
    * so both engines land on identical bits and the (χ² desc, term)
    * ranking can never diverge. Top-5 per source via t5's SALTED
    * two-phase rank — never a one-task vocabulary sort. */
  def t21Chi2Keywords(s: SparkSession, d: String): DataFrame = {
    val cells = docs(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("a"))
    val srcTot = cells.groupBy("source").agg(sum("a").as("ts"))
    val termTot = cells.groupBy("term").agg(sum("a").as("ct"))
    val total = cells.agg(sum("a").as("n"))
    val scored = cells
      .join(srcTot, "source").join(termTot, "term")
      .crossJoin(broadcast(total))
      .withColumn("b", col("ct") - col("a"))
      .withColumn("c", col("ts") - col("a"))
      .withColumn("dd", col("n") - col("ts") - col("b"))
      .withColumn("x",
        (col("a") * col("dd") - col("b") * col("c")).cast("double"))
      .withColumn("chi2",
        col("n").cast("double") * col("x") * col("x")
          / (col("ct").cast("double") * (col("n") - col("ct")).cast("double")
            * col("ts").cast("double") * (col("n") - col("ts")).cast("double")))
    val w1 = Window.partitionBy(col("source"), col("_salt"))
      .orderBy(col("chi2").desc, col("term"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("chi2").desc, col("term"))
    scored
      .withColumn("_salt", pmod(hash(col("term")), lit(8)))
      .withColumn("rk1", row_number().over(w1))
      .filter(col("rk1") <= 5)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select("source", "term", "a", "chi2", "rnk")
  }

  /** PMI collocation mining — the top-10 corpus bigrams by pointwise
    * mutual information (min support 5), the standard phrase-detection
    * pass (word2vec's phrase step, topic-model preprocessing) that
    * decides which token pairs merge before training. Bigrams come
    * from a map-only zip of each token array with its own tail (no
    * positional explode self-join); unigram and bigram counts are the
    * only data-sized shuffles; the score
    * `(N·c_xy) / (c_x·c_y)` — rank-equivalent to PMI without the log —
    * is ONE IEEE division of exact-Long operands in a fixed shape
    * (the t21 chi² rule), so the ranking can never diverge across
    * engines. The global top-10 is a distributed TakeOrdered (partial
    * top-k per partition, never a full sort), and the rnk window runs
    * over exactly 10 rows. */
  def t22PmiBigrams(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val uni = dd.select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val total = uni.agg(sum("c").cast("long").as("n"))
    val t = tokens(col("text"))
    val bigramArr = when(size(t) >= 2,
      zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    val bi = dd.select(explode(bigramArr).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 5)
    val ord = Seq(col("score").desc, col("bigram"))
    bi.withColumn("x", split(col("bigram"), " ").getItem(0))
      .withColumn("y", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("term").as("x"), col("c").as("c_x")), "x")
      .join(uni.select(col("term").as("y"), col("c").as("c_y")), "y")
      .crossJoin(broadcast(total))
      .withColumn("score",
        (col("n") * col("c_xy")).cast("double") / (col("c_x") * col("c_y")))
      .orderBy(ord: _*).limit(10)
      .withColumn("rnk", row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select("rnk", "bigram", "c_xy", "c_x", "c_y", "score")
  }

  /** Per-source term-concentration (Gini impurity) — 1 − Σp² over the
    * source's term distribution: the rational-arithmetic diversity
    * signal (low gini = template/boilerplate-dominated source, high =
    * diverse vocabulary) that complements t17's TTR without touching a
    * log (entropy's libm logs are not bit-portable). One (source,
    * term) rollup (map-side combined) then an O(sources) reduce;
    * squares ride as Decimal(38,0) ≡ HUGEINT (a web-scale source's
    * token count squares past Long at ~3·10⁹), ONE IEEE division at
    * the end. */
  def t23TermGini(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    docs(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").cast("long").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c").cast(dec) * col("c").cast(dec)).as("sum_sq"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("sum_sq").cast("long").as("sum_sq"),
        ((col("n_tokens").cast(dec) * col("n_tokens").cast(dec)
          - col("sum_sq")).cast("double")
          / (col("n_tokens").cast(dec) * col("n_tokens").cast(dec))
            .cast("double")).as("gini"))
  }

  /** Pairwise source-vocabulary overlap — Jaccard of the distinct-term
    * sets for every source pair that shares at least one term: the
    * redundancy matrix a mixture designer reads before weighting
    * sources (two near-identical crawls shouldn't both get full
    * weight). The distinct (source, term) frame self-joins ON TERM —
    * per-term fanout is bounded by the SOURCE count (≤ S pairs per
    * term, corpus-size independent), so the join never goes quadratic
    * in documents; vocabulary sizes join back from an O(sources)
    * frame; union sizes come from inclusion-exclusion — no second
    * scan. Exact integers, ONE IEEE division per pair. */
  def t24VocabOverlap(s: SparkSession, d: String): DataFrame = {
    val v = docs(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .distinct()
    val sizes = v.groupBy("source").agg(count(lit(1)).as("nv"))
    v.select(col("source").as("src_a"), col("term"))
      .join(v.select(col("source").as("src_b"), col("term")), "term")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("source").as("src_a"), col("nv").as("nv_a")),
        "src_a")
      .join(sizes.select(col("source").as("src_b"), col("nv").as("nv_b")),
        "src_b")
      .select(col("src_a"), col("src_b"), col("nv_a"), col("nv_b"),
        col("n_inter"),
        (col("n_inter") / (col("nv_a") + col("nv_b") - col("n_inter")))
          .as("jaccard"))
  }

  /** Good-Turing frequency spectrum — the count-of-counts table
    * (r → N_r) plus the adjusted-count numerator (r+1)·N_{r+1} that LM
    * smoothing (Katz/GT) reads off it. Two map-side-combined groupBys
    * collapse the corpus to O(distinct frequencies) rows; the r+1
    * alignment is a self-join of that tiny frame (AQE broadcasts it) —
    * never a global-sort window. gt_star is one IEEE division of two
    * exact Longs, bit-identical across engines. */
  def t19GoodTuring(s: SparkSession, d: String): DataFrame = {
    val spec = docs(s, d)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("r0"))
      .groupBy(col("r0").as("r")).agg(count(lit(1)).as("n_r"))
    val next = spec.select((col("r") - 1).as("r"), col("n_r").as("n_r1"))
    spec.join(next, Seq("r"), "left")
      .select(col("r"), col("n_r"),
        coalesce((col("r") + 1) * col("n_r1"), lit(0L)).as("gt_num"),
        (coalesce((col("r") + 1) * col("n_r1"), lit(0L)) / col("n_r"))
          .as("gt_star"))
  }

  /** Gopher-style quality rules — the heuristic document filter every
    * LLM training pipeline runs before tokenization (token-count
    * bounds, mean-word-length band, stopword presence, repetition cap).
    * Every rule is an EXACT cross-multiplied integer comparison — never
    * a float ratio threshold (3 ≤ chars/words ≤ 10 is
    * `3·n_tok ≤ chars ∧ chars ≤ 10·n_tok`; a float division's rounding
    * could flip a boundary doc across engines). Map-only over the
    * corpus: word chars via a space-strip length, stop hits and the
    * modal-token count via the linear array aggregates t1/t9 use — no
    * explode, no shuffle, no UDF. Output: per-doc rule flags + the
    * composite keep verdict. */
  def t12GopherQuality(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    docs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"),
        size(toks).cast("long").as("n_tok"),
        length(regexp_replace(col("text"), " ", "")).cast("long")
          .as("word_chars"),
        stopwordHits(col("text")).cast("long").as("stop_hits"),
        modalCount(toks).as("modal_n"))
      .select(col("doc_id"), col("n_tok"), col("word_chars"),
        col("stop_hits"), col("modal_n"),
        when(col("n_tok") >= 20 && col("n_tok") <= 100000, 1L).otherwise(0L)
          .as("pass_len"),
        when(lit(3) * col("n_tok") <= col("word_chars") &&
          col("word_chars") <= lit(10) * col("n_tok"), 1L).otherwise(0L)
          .as("pass_wordlen"),
        when(lit(50) * col("stop_hits") >= col("n_tok"), 1L).otherwise(0L)
          .as("pass_stop"),
        when(lit(5) * col("modal_n") <= col("n_tok"), 1L).otherwise(0L)
          .as("pass_rep"))
      .withColumn("keep",
        col("pass_len") * col("pass_wordlen") * col("pass_stop") *
          col("pass_rep"))
  }

  /** MOSS-style winnowing fingerprints, long format (doc_id, fp): the
    * plagiarism/attribution primitive — any shared >= 6-token run
    * between docs shares a fingerprint row. */
  def t6Winnowing(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"),
        positionalShingleHashes(col("text"), n = 3).as("hs"))
      .select(col("doc_id"), explode(windowMins(col("hs"), w = 4)).as("fp"))

  // ---------- multimodal ----------

  def m1BinaryMeta(s: SparkSession, d: String): DataFrame =
    BinaryPipeline.toAssets(docs(s, d), "doc_id", "text")
      .select("asset_id", "n_bytes", "sha256")

  /** Decode-stub features, long format (asset_id, dim, feature): the
    * multimodal plumbing end-to-end — binary payload → partition-
    * parallel decode → per-dim features. The stub's strided byte means
    * are exactly replicable in SQL, so even this path is oracle-checked. */
  def m2DecodeFeatures(s: SparkSession, d: String): DataFrame = {
    val assets = BinaryPipeline.toAssets(docs(s, d), "doc_id", "text")
    BinaryPipeline.decodeStub(assets, featureDim = 8)
      .select(col("asset_id"),
        posexplode(col("features")).as(Seq("dim", "feature")))
      .select(col("asset_id"), col("dim").cast("long").as("dim"),
        col("feature"))
  }

  /** Binary-content dedup manifest — d1's exact dedup at the ASSET
    * layer: group by the payload's sha256 (the checksum every object
    * store already carries), keep the min asset id. One hash-shuffled
    * map-side-combined aggregate; at 100 TB the grouping key is the
    * 32-byte digest, never the payload. */
  def m8AssetDedup(s: SparkSession, d: String): DataFrame =
    BinaryPipeline.toAssets(docs(s, d), "doc_id", "text")
      .groupBy("sha256")
      .agg(count(lit(1)).as("n_copies"), min("asset_id").as("keep_id"),
        min("n_bytes").as("n_bytes"))

  /** The packed per-asset frame behind m3/m13: (asset_id, source,
    * n_bytes, bytes_before) via the two-level running sum described on
    * [[m3ShardAssign]]. */
  private def packedAssets(s: SparkSession, d: String): DataFrame = {
    val assets = docs(s, d)
      .select(col("doc_id").cast("long").as("asset_id"), col("source"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .withColumn("chunk", floorDiv("asset_id", 4096L))
    val wLocal = Window.partitionBy("source", "chunk").orderBy("asset_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wChunk = Window.partitionBy("source").orderBy("chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = assets.groupBy("source", "chunk")
      .agg(sum("n_bytes").as("chunk_bytes"))
      .withColumn("chunk_offset",
        coalesce(sum("chunk_bytes").over(wChunk), lit(0L)))
      .select("source", "chunk", "chunk_offset")
    assets
      .withColumn("local_before",
        coalesce(sum("n_bytes").over(wLocal), lit(0L)))
      .join(offsets, Seq("source", "chunk"))
      .withColumn("bytes_before", col("chunk_offset") + col("local_before"))
  }

  /** WebDataset-style shard packing — the multimodal EXPORT shape: per
    * source, assets in id order pack greedily into ~8 KiB shards
    * (shard = bytes-before div shardBytes); output is the per-shard
    * manifest a tar-writer would consume. All integer arithmetic.
    *
    * The running sum is TWO-LEVEL, never a whole-source single-task
    * window: assets chunk by id range (4096 ids/chunk), level 1 runs
    * the running sum WITHIN each (source, chunk) — parallel across
    * chunks, ≤4096 rows per window partition — and level 2 prefix-sums
    * the per-chunk byte totals (one row per chunk, 4096× smaller than
    * the corpus; AQE broadcasts the offsets back onto the level-1
    * partitioning). bytes_before = chunk offset + chunk-local running
    * sum — identical to the one-window form. A corpus so large that
    * the CHUNK TOTALS overwhelm one task recurses the same two-level
    * split on the chunk frame. */
  def m3ShardAssign(s: SparkSession, d: String): DataFrame =
    packedAssets(s, d)
      .groupBy(col("source"), floorDiv("bytes_before", 8192L).as("shard_id"))
      .agg(count(lit(1)).as("n_assets"),
        sum("n_bytes").as("shard_bytes"),
        min("asset_id").as("first_asset"),
        max("asset_id").as("last_asset"))

  /** The per-asset TAR INDEX — the sidecar file a WebDataset reader
    * actually opens: for every asset, its shard and byte offset within
    * that shard (m3 publishes the per-shard rollup; this is the
    * asset-level lookup that makes random access O(1)). Map-only on
    * top of the shared two-level packed frame; shard and offset are
    * exact floor-div/mod of the same bytes_before. */
  def m13TarIndex(s: SparkSession, d: String): DataFrame =
    packedAssets(s, d).select(col("asset_id"), col("source"),
      floorDiv("bytes_before", 8192L).as("shard_id"),
      pmod(col("bytes_before"), lit(8192L)).as("offset"),
      col("n_bytes"))

  /** Per-(source, modality) asset inventory — the storage-planning
    * query a multimodal corpus runs before sharding (how many bytes of
    * which modality live where, and how much of it is duplicate
    * payload). Modality is derived deterministically (doc_id mod 3 —
    * the synthetic stand-in for a real mime sniff); distinct-payload
    * counts key on m1's sha256, so the dedup signal is content-true.
    * One groupBy with map-side combine; count_distinct expands to the
    * standard two-phase distinct aggregate — O(distinct payloads)
    * intermediate, never a per-group set collect. */
  def m4ModalityStats(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id").cast("long").as("asset_id"), col("source"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        sha2(col("text").cast("binary"), 256).as("sha256"))
      .withColumn("modality",
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("asset_id"), lit(3)) + 1).cast("int")))
      .groupBy(col("source"), col("modality"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("n_bytes")).as("total_bytes"),
        max(col("n_bytes")).as("max_bytes"),
        countDistinct(col("sha256")).as("n_distinct_payloads"))
      .withColumn("avg_bytes", col("total_bytes") / col("n_assets"))

  /** Per-modality payload-size quantiles — the shard-planning input
    * (what batch size fits which modality): exact p50/p90 byte sizes
    * via e19's TWO-PHASE positional selection PER MODALITY — a
    * (modality, size) histogram first (the only data-sized shuffle,
    * map-side combined), then the cumulative window runs over
    * O(distinct sizes) rows per modality (size-range bounded, never
    * an asset-count sort); threshold positions are exact integer
    * ceil-arithmetic. NULL payloads are excluded by contract (their
    * size is undefined — and a null sort key would order differently
    * across engines). */
  def m9SizeQuantiles(s: SparkSession, d: String): DataFrame = {
    val a = docs(s, d).filter(col("text").isNotNull)
      .select(col("doc_id").cast("long").as("asset_id"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .withColumn("modality",
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("asset_id"), lit(3)) + 1).cast("int")))
    val hist = a.groupBy("modality", "n_bytes").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("modality").orderBy("n_bytes")
    val cum = hist
      .withColumn("cum", sum("cnt").over(w).cast("long"))
      .join(hist.groupBy("modality").agg(sum("cnt").cast("long").as("nu"),
        max("n_bytes").as("max_bytes")), "modality")
    def pick(p: Int): DataFrame = cum.filter(expr(
      s"cum - cnt < ($p * nu + 99) div 100 AND ($p * nu + 99) div 100 <= cum"))
      .select(col("modality"), col("n_bytes").as(s"p${p}_bytes"))
    cum.select("modality", "nu", "max_bytes").distinct()
      .join(pick(50), "modality").join(pick(90), "modality")
      .select(col("modality"), col("nu").as("n_assets"),
        col("p50_bytes"), col("p90_bytes"), col("max_bytes"))
  }

  /** Frame-sampling manifest — the video-ingest planning pass: each
    * asset fans out to the frame offsets a decoder would extract (every
    * `frameStepMs`, duration derived 1 ms/byte from the payload — the
    * deterministic stand-in for real container metadata, same contract
    * as m2's stubbed decode). The fan-out is `explode(sequence(...))`
    * — generated map-side inside codegen, zero shuffle, and the frame
    * list never materializes on the driver. A real pipeline feeds this
    * manifest to m2's mapPartitions decode boundary; partition count
    * scales with assets × frames, exactly what a 100 TB video corpus
    * needs (no per-asset task, no driver loop). */
  def m5FrameSample(s: SparkSession, d: String): DataFrame = {
    val frameStepMs = 250L
    BinaryPipeline.toAssets(docs(s, d), "doc_id", "text")
      .select(col("asset_id"), col("n_bytes").as("duration_ms"),
        posexplode(sequence(lit(0L), col("n_bytes"), lit(frameStepMs)))
          .as(Seq("frame_idx", "offset_ms")))
      .select(col("asset_id"), col("duration_ms"),
        col("frame_idx").cast("long").as("frame_idx"), col("offset_ms"))
  }

  /** Image-text pair manifest — the LAION-style pairing pass that turns
    * a raw multimodal lake into training samples: binary assets (m1's
    * surface) equi-joined to their caption documents and to their
    * embedding vectors by id, then quality-gated (t2's score ≥ 0.4 and
    * ≥ 10 caption tokens). All three sides are scale-linear, so the
    * joins are plain co-partitioned equi-joins on the id key (shuffle
    * hash / SMJ — nothing here is broadcast-sized at 100 TB) with the
    * quality predicate applied map-side BEFORE the join cuts fan-in.
    * Output: one manifest row per surviving pair with the bytes, token
    * count, quality and embedding norm a sampler needs. */
  def m6PairManifest(s: SparkSession, d: String): DataFrame = {
    val assets = BinaryPipeline.toAssets(docs(s, d), "doc_id", "text")
      .select(col("asset_id"), col("n_bytes"))
    val caps = docs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        qualityScore(col("text")).as("quality"))
      .filter(col("quality") >= 0.4 && col("n_tok") >= 10L)
    val vecs = emb(s, d)
      .select(col("vec_id").cast("long").as("vec_id"),
        intNormSq(quantize(col("embedding"))).as("normsq"))
    assets.join(caps, col("asset_id") === col("doc_id"))
      .join(vecs, col("asset_id") === col("vec_id"))
      .select(col("asset_id").as("pair_id"), col("n_bytes"), col("n_tok"),
        col("quality"),
        distFromIntSq(col("normsq").cast("double")).as("norm"))
  }

  /** Dataset-publishing split — m6's pair manifest stratified by
    * modality and split train/val by the portable mod-first hash (v9's
    * split applied to the multimodal surface): the row a dataset card
    * reports per (modality, split). Map-only labeling over the
    * manifest, then ONE map-side-combined rollup over O(modalities·2)
    * keys. */
  def m7StratifiedSplit(s: SparkSession, d: String): DataFrame =
    m6PairManifest(s, d)
      .withColumn("modality",
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("pair_id"), lit(3)) + 1).cast("int")))
      .withColumn("split",
        when(Sampling.portableHash(col("pair_id")) % 5 === 0, "val")
          .otherwise("train"))
      .groupBy("modality", "split")
      .agg(count(lit(1)).as("n_pairs"),
        sum("n_bytes").cast("long").as("total_bytes"),
        sum("n_tok").cast("long").as("total_tokens"))

  // ---------- relational analytics ----------

  /** Cents-exact money aggregate: round(expr * scale) summed as Long. */
  private def moneySum(e: Column, scale: Int): Column =
    sum(round(e * lit(scale)).cast("long"))

  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        (moneySum(col("l_extendedprice"), 100) / lit(100.0)).as("sum_base"),
        (moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")), 10000)
          / lit(10000.0)).as("sum_disc"),
        (moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")), 10000) / lit(10000.0)).as("sum_charge"),
        (sum(col("l_quantity").cast("long")) / count(lit(1))).as("avg_qty"),
        ((moneySum(col("l_extendedprice"), 100) / lit(100.0)) / count(lit(1)))
          .as("avg_price"),
        count(lit(1)).as("n_orders"))

  /** Correlated scalar-aggregate join (TPC-H Q17 shape): revenue from
    * orders of less than 20% of a part's average quantity. The
    * correlated `avg` is decorrelated into one per-part aggregate and a
    * key-local equi-join, and the fractional predicate
    * `qty < 0.2 * (sum/cnt)` is cross-multiplied into the EXACT integer
    * comparison `5*qty*cnt < sum` — no float threshold anywhere; the
    * single IEEE division by 700.0 happens once on the final cents sum. */
  def q10SmallQtyRevenue(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val perPart = li.groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
        count(lit(1)).as("cnt_qty"))
    li.join(perPart, "l_partkey")
      .filter(col("l_quantity").cast("long") * lit(5L) * col("cnt_qty")
        < col("sum_qty"))
      .agg((moneySum(col("l_extendedprice"), 100) / lit(700.0))
          .as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }

  def q3TopOrders(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
    val l = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > to_timestamp(lit("1997-01-01 00:00:00")))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")),
        10000).as("revenue_c"))
      .orderBy(col("revenue_c").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        (col("revenue_c") / lit(10000.0)).as("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
  }

  def q5RevenueByNation(s: SparkSession, d: String): DataFrame = {
    val asia = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
      .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
    Tables.lineitem(s, d)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")),
        10000).as("revenue_c"))
      .select(col("n_name"), (col("revenue_c") / lit(10000.0)).as("revenue"))
  }

  /** TPC-H Q6 shape: map-only filter + single scalar aggregate — the
    * pure scan-throughput query (filters fully pushed to parquet). */
  def q6ForecastRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")) &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg((moneySum(col("l_extendedprice") * col("l_discount"), 10000)
        / lit(10000.0)).as("revenue"))

  /** Top-3 customers per nation by balance — through the native
    * partial top-k aggregate (map-side heaps, shuffle O(nations·k·
    * partitions)) rather than a nation-partitioned row_number window:
    * a nation's customer list grows with the corpus and a window
    * would sort it on ONE task (the d7/v5 skew rule). (acctbal desc,
    * custkey asc) is exactly TopK's descending tie rule, so ranks are
    * identical; name/balance ride back on an O(nations·3) broadcast
    * join. */
  def q7TopCustomers(s: SparkSession, d: String): DataFrame = {
    val top = TopK.perGroup(
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("c_custkey").cast("long").as("c_custkey"),
          col("c_acctbal").cast("double").as("bal")),
      "n_name", "c_custkey", "bal", k = 3, ascending = false)
      .select(col("n_name"), col("c_custkey"), col("rnk"))
    Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("c_custkey"),
        col("c_name"), col("c_acctbal"))
      .join(broadcast(top), Seq("c_custkey"))
      .select(col("n_name"), col("c_custkey"), col("c_name"),
        col("c_acctbal"), col("rnk"))
  }

  /** Semi-join shape (TPC-H Q4 flavor): orders in a window with at
    * least one lineitem shipped more than 60 days after the order
    * date, counted by priority. left_semi — the probe never duplicates
    * rows however many lineitems match. */
  def q4LatePriority(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
    o.join(Tables.lineitem(s, d),
        col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
  }

  /** Multi-level aggregate (ROLLUP): revenue by (nation, year) with
    * per-nation and grand totals — the reporting shape over the star
    * join. NULL rollup markers are coalesced to sentinel values so the
    * output stays hash-comparable. */
  def q9RevenueRollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .withColumn("yr", year(col("o_orderdate")).cast("long"))
      .rollup(col("n_name"), col("yr"))
      .agg((moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")),
        10000) / lit(10000.0)).as("revenue"),
        count(lit(1)).as("n"))
      .select(coalesce(col("n_name"), lit("ALL")).as("nation"),
        coalesce(col("yr"), lit(-1L)).as("yr"),
        col("revenue"), col("n"))

  /** Anti-join shape (TPC-H Q22 flavor): per nation, customers with NO
    * order since 1997 — count + exact-cents balance sum. left_anti on
    * the orders key; nation dim broadcast. */
  def q8InactiveCustomers(s: SparkSession, d: String): DataFrame = {
    val recent = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1998-06-01 00:00:00")))
      .select("o_custkey")
    Tables.customer(s, d)
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_inactive"),
        (moneySum(col("c_acctbal"), 100) / lit(100.0)).as("sum_acctbal"))
  }

  /** Per-nation account-balance quartiles with NTILE semantics (near-
    * equal bucket sizes, larger buckets first per the SQL standard),
    * computed WITHOUT a nation-partitioned row sort: a nation's
    * customer list grows with the corpus, so the position comes from
    * the t7 histogram trick instead — a (nation, balance) count
    * histogram, a cumulative window over O(distinct balances) rows
    * (bounded by the CENTS DOMAIN of acctbal, corpus-independent),
    * and a row_number only WITHIN each exact-balance tie group
    * (group size = tie count — the corpus/distinct-values ratio,
    * three orders of magnitude below a full nation). position =
    * strictly-higher count + tie rank reproduces the ntile order
    * (balance desc, custkey) exactly; the bucket formula is the SQL
    * standard's: first N mod 4 buckets hold N div 4 + 1 rows. */
  def q13BalanceQuartiles(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_custkey").cast("long").as("c_custkey"),
        col("c_acctbal"))
    val hist = cust.groupBy("n_name", "c_acctbal")
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("n_name").orderBy(col("c_acctbal").desc)
    val cum = hist
      .withColumn("cum_before",
        (sum("cnt").over(wCum) - col("cnt")).cast("long"))
      .withColumn("n_tot",
        sum("cnt").over(Window.partitionBy("n_name")).cast("long"))
    val wTie = Window.partitionBy("n_name", "c_acctbal")
      .orderBy("c_custkey")
    // N < 4 never reaches the else branch (p <= r·(q+1) = N holds for
    // every p when q = 0), so its div-by-zero arm is never evaluated
    val quartile = when(
      expr("p <= (n_tot % 4) * (n_tot div 4 + 1)"),
      expr("(p - 1) div (n_tot div 4 + 1) + 1"))
      .otherwise(expr(
        "n_tot % 4 + (p - (n_tot % 4) * (n_tot div 4 + 1) - 1) " +
          "div (n_tot div 4) + 1"))
    cust
      .withColumn("tie_rk", row_number().over(wTie).cast("long"))
      .join(cum, Seq("n_name", "c_acctbal"))
      .withColumn("p", col("cum_before") + col("tie_rk"))
      .withColumn("quartile", quartile.cast("long"))
      .groupBy("n_name", "quartile")
      .agg(count(lit(1)).as("n"),
        (moneySum(col("c_acctbal"), 100) / lit(100.0)).as("sum_acctbal"),
        min("c_acctbal").as("min_bal"), max("c_acctbal").as("max_bal"))
  }

  /** Top account balances per nation with RANK + PERCENT_RANK
    * semantics (rank repeats on equal balances, percent_rank =
    * (rank−1)/(n−1)) — computed from the t7 HISTOGRAM, never a
    * nation-partitioned row sort: rank is a property of the BALANCE
    * VALUE alone (all tied customers share it), so a (nation,
    * balance) count histogram + a cumulative window over O(distinct
    * balances) rows (cents-domain bounded, corpus-independent) yields
    * every balance group's rank; groups with rank ≤ 5 (≤ 5 per
    * nation) broadcast back onto the customer scan. percent_rank is
    * the same exact-integer division both engines compute. */
  def q14BalanceRank(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_custkey").cast("long").as("c_custkey"),
        col("c_acctbal"))
    val hist = cust.groupBy("n_name", "c_acctbal")
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("n_name").orderBy(col("c_acctbal").desc)
    val ranked = hist
      .withColumn("rnk",
        (sum("cnt").over(wCum) - col("cnt") + 1).cast("long"))
      .withColumn("n_tot",
        sum("cnt").over(Window.partitionBy("n_name")).cast("long"))
      .filter(col("rnk") <= 5)
      .select("n_name", "c_acctbal", "rnk", "n_tot")
    cust.join(broadcast(ranked), Seq("n_name", "c_acctbal"))
      .select(col("n_name"), col("c_custkey"), col("c_acctbal"),
        col("rnk"),
        when(col("n_tot") === 1L, lit(0.0))
          .otherwise((col("rnk") - 1).cast("double")
            / (col("n_tot") - 1).cast("double")).as("pct_rank"))
  }

  /** Ratio-of-aggregates (TPC-H Q8 "market share" shape): per order
    * year, the BUILDING segment's share of total revenue. Both sums are
    * exact cents over the same star join (ONE scan, conditional
    * aggregation — never two scans diffed); share is one IEEE division
    * of exact integers. */
  def q12MarketShare(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * lit(10000)).cast("long").as("rev"),
        col("c_mktsegment").as("seg"))
      .groupBy("yr")
      .agg(
        (sum(when(col("seg") === "BUILDING", col("rev")).otherwise(0L))
          / sum(col("rev"))).as("share"),
        (sum(col("rev")) / lit(10000.0)).as("total_revenue"))

  /** 7-day moving average of daily order revenue — the RANGE-frame
    * window shape (frames over an ordered value domain, not row
    * offsets). The heavy step is the per-day cents aggregate, which
    * shuffles with map-side combine down to O(days) rows; the global
    * window then runs over that tiny frame (days are bounded by the
    * calendar — a few thousand rows however big the fact table), so the
    * single-partition window is not a scale hazard. */
  def q11MovingAvg(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      // NTZ → UTC epoch seconds (session tz is UTC) → integer day
      // (floor division: a pre-1970 date must bucket like DuckDB's `//`)
      .groupBy(floorDiv("unix_seconds(CAST(o_orderdate AS TIMESTAMP))",
        86400L).as("day"))
      .agg(moneySum(col("o_totalprice"), 100).as("rev_c"))
    val w = Window.orderBy("day").rangeBetween(-6, 0)
    daily.select(col("day"),
      (col("rev_c") / lit(100.0)).as("revenue"),
      ((sum("rev_c").over(w) / lit(100.0)) / count(lit(1)).over(w))
        .as("ma7"))
  }

  /** CUBE aggregate: revenue by (nation, year) with BOTH marginal
    * planes and the grand total — q9's ROLLUP plus the year-only
    * marginals. Same sentinel coalescing keeps NULL markers
    * hash-comparable. */
  def q15RevenueCube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .withColumn("yr", year(col("o_orderdate")).cast("long"))
      .cube(col("n_name"), col("yr"))
      .agg((moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")),
        10000) / lit(10000.0)).as("revenue"),
        count(lit(1)).as("n"))
      .select(coalesce(col("n_name"), lit("ALL")).as("nation"),
        coalesce(col("yr"), lit(-1L)).as("yr"),
        col("revenue"), col("n"))

  /** Set-operation family (INTERSECT / EXCEPT, distinct-set semantics
    * in both engines): BUILDING-segment customers split by whether they
    * ordered in 1998+. Each set op compiles to a distinct + key-local
    * join — no new shuffle shape, but the API family is gated. */
  def q16SegmentSetOps(s: SparkSession, d: String): DataFrame = {
    val building = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").cast("long").as("c_custkey"))
    val recent = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1998-01-01 00:00:00")))
      .select(col("o_custkey").cast("long").as("c_custkey"))
    building.intersect(recent).withColumn("op", lit("active"))
      .union(building.except(recent).withColumn("op", lit("inactive")))
  }

  /** Disjunctive-predicate join (TPC-H Q19 shape): revenue from three
    * OR'd (brand, size-range, quantity-range) condition groups — the
    * optimizer path where an OR-of-ANDs must still prune (the
    * brand/size conjuncts are join-side predicates pushed to the part
    * scan as `p_brand IN (...)`-style supersets, the quantity conjuncts
    * prune the fact scan). No broadcast hint: part scales linearly with
    * SF (~20M rows at sf100) and the brand/size filter keeps a
    * scale-linear ~3/25 of it, so AQE decides from the POST-filter size
    * at runtime — broadcast while it fits, shuffle join beyond (the d12
    * precedent). Exact-cents aggregate. */
  def q17BrandRevenue(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    val q = col("l_quantity").cast("long")
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        q.between(1L, 11L)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        q.between(10L, 20L)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
        q.between(20L, 30L))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg((moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")),
        10000) / lit(10000.0)).as("revenue"),
        count(lit(1)).as("n"))
  }

  /** Sole-blame supplier report (TPC-H Q21 shape): suppliers whose
    * lineitem is returned ('R') inside a MULTI-supplier order where no
    * OTHER supplier's line was returned — the exists + not-exists
    * correlated pair, decorrelated into one semi-join and one
    * anti-join on the SAME l_orderkey equi-key (residual suppkey
    * inequality evaluated inside the join), so all three lineitem
    * branches share the orderkey partitioning and no per-order
    * cross product ever forms. Supplier dim broadcasts. */
  def q18BlameSupplier(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val blamed = l.filter(col("l_returnflag") === "R")
    val others = l.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"),
      col("l_returnflag").as("r2"))
    blamed
      .join(others, col("l_orderkey") === col("o2") &&
        col("l_suppkey") =!= col("s2"), "left_semi")
      .join(others.filter(col("r2") === "R"),
        col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"),
        "left_anti")
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_blame"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"),
        col("n_blame"))
  }

  /** Customer order-count distribution (TPC-H Q13 shape): LEFT outer
    * join with a predicate ON THE JOIN (orders below '1-URGENT' only —
    * pushed to the orders scan, never filtering customers out), per-
    * customer count of matched orders (0 for unmatched), then the
    * distribution over counts. Two shuffles: the outer join's custkey
    * exchange (reused by the per-customer count on the same key) and
    * the O(distinct counts) distribution aggregate. */
  def q19OrderCountDist(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    Tables.customer(s, d)
      .join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** Top-revenue supplier (TPC-H Q15 shape): revenue per supplier over
    * a ship-date quarter, suppliers AT the maximum. The max compares
    * EXACT integer cents (a float revenue tie would be engine-
    * dependent), rides back as a broadcast 1-row aggregate — never a
    * driver-side collect. One lineitem scan (date filter pushed),
    * supplier dim broadcast. */
  def q20TopSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1996-04-01 00:00:00")))
      .groupBy(col("l_suppkey"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")),
        10000).as("rev_c"))
    val top = rev.agg(max(col("rev_c")).as("max_c"))
    rev.crossJoin(broadcast(top))
      .filter(col("rev_c") === col("max_c"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"),
        (col("rev_c") / lit(10000.0)).as("total_revenue"))
  }

  /** Cheapest supplier per part — the TPC-H Q2 shape without a partsupp
    * table: supply cost derived from lineitem's observed discounted
    * unit economics. Per (part, supplier) the cents-exact revenue and
    * centi-quantity aggregate map-side; the per-part winner is ONE
    * lexicographic `min(struct(unit_c, suppkey))` aggregation — no
    * per-part window — where unit_c = (cents·10⁶) div qty_c is an
    * exact integer micro-scaled unit-cost floor, identical on both
    * engines (operands non-negative, so div ≡ floor division). */
  def q32CheapestSupplier(s: SparkSession, d: String): DataFrame = {
    val ps = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")),
          10000).as("cents"),
        sum(round(col("l_quantity") * lit(100)).cast("long")).as("qty_c"))
      .withColumn("unit_c", expr("(cents * 1000000L) div qty_c"))
    ps.groupBy(col("l_partkey").cast("long").as("p_partkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        min(struct(col("unit_c"), col("l_suppkey").cast("long").as("sk")))
          .as("m"))
      .select(col("p_partkey"), col("n_suppliers"),
        col("m.sk").as("best_suppkey"),
        (col("m.unit_c") / lit(100000000.0)).as("best_unit_price"))
  }

  /** Product-profit by supplier nation and ship year — the TPC-H Q9
    * shape on this schema (no partsupp table, so unit cost is the
    * part's retail price: profit = Σ extprice·(1−disc) −
    * retail·qty). The classic multi-fact star: lineitem shuffles on
    * partkey then suppkey for the two dimension hash joins (both
    * dimensions scale with SF → NO broadcast hints, AQE decides — the
    * q17/d12 rule), the 25-row nation table broadcasts, and the rollup
    * is one map-side-combined aggregate to O(nations·years) rows. Both
    * money terms land on the same 10⁻⁴ fixed-point scale (cents×cents
    * for the cost product), so the subtraction is exact-Long and ONE
    * final division renders the dollars. */
  def q33ProductProfit(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"),
      col("l_shipdate"), col("l_extendedprice"), col("l_discount"),
      col("l_quantity"))
    val p = Tables.part(s, d).select(col("p_partkey"),
      round(col("p_retailprice") * 100).cast("long").as("retail_c"))
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("l_shipdate")).cast("long").as("year"))
      .agg(count(lit(1)).as("n_lines"),
        ((moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")), 10000)
          - sum(col("retail_c") * round(col("l_quantity") * 100).cast("long")))
          / lit(10000.0)).as("profit"))
  }

  /** Order-to-ship latency profile by order priority — the fulfillment
    * SLA report (TPC-H Q4's commit-date semantics on this schema's
    * columns: shipdate − orderdate in whole days). ONE scale-linear
    * equi-join (lineitem ⋈ orders on orderkey, unhinted — AQE decides)
    * feeding an O(priorities) map-side-combined rollup; day deltas are
    * exact integer division on epoch microseconds under the pinned UTC
    * zone. Both date columns are midnight-aligned (spec-asserted), so
    * every delta is an exact multiple of a day and Spark's
    * truncating `div` agrees with DuckDB's flooring `//` even on the
    * NEGATIVE deltas this synthetic data contains (ship before order);
    * the mean is ONE IEEE division of exact Longs. */
  def q34ShipLatency(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      col("o_orderpriority"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("ous"))
    Tables.lineitem(s, d).select(col("l_orderkey"),
      unix_micros(col("l_shipdate").cast("timestamp")).as("sus"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        expr("(sus - ous) div 86400000000").as("delay_d"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        sum("delay_d").cast("long").as("sum_delay"),
        max("delay_d").as("max_delay"))
      .withColumn("mean_delay", col("sum_delay") / col("n_lines"))
  }

  /** Dormant high-balance customers (TPC-H Q22 shape): customers with
    * above-average positive balance and NO RECENT orders (none since
    * 1998-06-01). The scalar average rides as a broadcast 1-row
    * (sum, count) aggregate and the "above average" predicate is the
    * EXACT integer cross-multiplication `bal_c · cnt > sum_c` — never
    * a float average threshold (an engine-dependent ulp would flip
    * boundary customers). The dormancy test is a left ANTI join on
    * custkey (never NOT IN — a null custkey would poison the
    * predicate); the recency filter and single-column projection both
    * push to the orders scan. Aggregation to O(segments) rows,
    * map-side combined. */
  def q21LonelyCustomers(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("bal_c"))
    val avgPos = c.filter(col("bal_c") > 0)
      .agg(sum("bal_c").as("sum_c"), count(lit(1)).as("cnt"))
    c.crossJoin(broadcast(avgPos))
      .filter(col("bal_c") * col("cnt") > col("sum_c"))
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >=
          to_timestamp(lit("1998-06-01 00:00:00")))
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        (sum("bal_c") / lit(100.0)).as("total_bal"))
  }

  /** Per-nation top-balance customer — the argmax-per-group JOIN-BACK
    * shape (TPC-H Q2's min-cost supplier, on this schema's columns).
    * The argmax is ONE map-side-combined `max(struct(bal, key))`
    * aggregate — O(nations) result rows, never a per-nation sort
    * window (a hot nation would sort all its customers on one task) —
    * and the winner keys join BACK to the fact side to recover
    * attributes, with the O(groups) winners frame broadcast. Balances
    * compare as exact cents; ties break to the highest custkey via the
    * struct's lexicographic order, mirrored by the oracle's ORDER BY
    * ... DESC, ... DESC. */
  def q22TopBalance(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("c_custkey"),
        col("c_nationkey"), col("c_name"),
        round(col("c_acctbal") * 100).cast("long").as("bal_c"))
    val winners = c.groupBy(col("c_nationkey").as("nk"))
      .agg(max(struct(col("bal_c"), col("c_custkey"))).as("w"))
      .select(col("nk"), col("w.c_custkey").as("c_custkey"))
    c.join(broadcast(winners), Seq("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("nk") === col("n_nationkey"))
      .select(col("n_name"), col("c_custkey"), col("c_name"),
        (col("bal_c") / lit(100.0)).as("acctbal"))
  }

  /** Large-volume orders (TPC-H Q18 shape): orders whose total line
    * quantity exceeds 300, joined back to order/customer attributes.
    * The per-order rollup is ONE map-side-combined groupBy on the fact
    * table's natural key; the HAVING filter cuts it to O(big orders)
    * rows BEFORE any join, so AQE broadcasts the tiny survivor set
    * against orders and customer (the fact table itself is never on a
    * build side). Quantities are integral by schema — the Long sum is
    * exact. */
  def q23BigOrders(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .filter(col("total_qty") > 300L)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey").cast("long").as("c_custkey"),
        col("o_orderkey").cast("long").as("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        (round(col("o_totalprice") * 100).cast("long") / lit(100.0))
          .as("o_totalprice"),
        col("total_qty"))
  }

  /** Promotion revenue share per ship month (TPC-H Q14 shape): the
    * conditional-aggregate ratio over ONE scan of the lineitem×part
    * join — numerator and denominator are exact-cents Longs from the
    * same aggregate, never two scans diffed; the share is one IEEE
    * division per month row. part joins WITHOUT a broadcast hint
    * (scale-linear at 100 TB — AQE decides from the actual size, the
    * q17/d12 precedent). */
  def q24PromoShare(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(
        sum(when(col("p_type") === "PROMO",
          round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 10000).cast("long")).otherwise(0L)).as("promo_c"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")),
          10000).as("rev_c"))
      .select(col("ship_month"),
        (col("promo_c") / lit(10000.0)).as("promo_revenue"),
        (col("rev_c") / lit(10000.0)).as("total_revenue"),
        (col("promo_c") / col("rev_c")).as("promo_share"))

  /** Supplier/part variety per brand (TPC-H Q16 shape): distinct
    * suppliers and parts serving each brand within a size band. The two
    * COUNT(DISTINCT)s expand to Spark's two-phase distinct aggregate
    * (expand + partial-distinct per partition + merge) — intermediate
    * volume is O(distinct pairs), never a per-group set collect; the
    * size-band predicate prunes the part scan. */
  def q25SupplierVariety(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.part(s, d).filter(col("p_size").between(10, 40)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_lines"))

  /** Exact per-priority order-value quantiles (p50/p90/p99) — t7's
    * two-phase positional selection applied to the relational surface
    * (the pricing-report shape): phase 1 is a map-side-combined
    * groupBy(priority, cents) histogram — the only fact-sized shuffle,
    * one row per DISTINCT value out; phase 2 ranks the histogram with
    * a cumulative-count window over O(distinct prices) rows (bounded by
    * the price domain, corpus-independent — never a per-priority row
    * sort). Rank positions are exact integer arithmetic ((9n+9) div 10,
    * never a float ceil); values are exact cents divided once for
    * display. */
  def q26PriceQuantiles(s: SparkSession, d: String): DataFrame = {
    val hist = Tables.orders(s, d)
      .select(col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("o_orderpriority", "cents")
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("o_orderpriority").orderBy("cents")
    val wAll = Window.partitionBy("o_orderpriority")
    def pick(rank: String) =
      max(when(expr(s"cum - cnt < $rank AND $rank <= cum"), col("cents")))
    hist
      .withColumn("cum", sum("cnt").over(wCum).cast("long"))
      .withColumn("n", sum("cnt").over(wAll).cast("long"))
      .groupBy("o_orderpriority")
      .agg(max(col("n")).as("n_orders"),
        (pick("(n + 1) div 2") / lit(100.0)).as("p50"),
        (pick("(9 * n + 9) div 10") / lit(100.0)).as("p90"),
        (pick("(99 * n + 99) div 100") / lit(100.0)).as("p99"))
  }

  /** Important-part report (TPC-H Q11 shape): parts whose revenue
    * exceeds a fixed fraction (1/2000) of total revenue. Per-part
    * exact-cents rollup (the only data-sized shuffle); the corpus
    * total rides back as a broadcast 1-row aggregate (the q20/q21
    * scalar pattern — never a whole-table window, never a driver
    * collect); the HAVING is the exact cross-multiplication
    * `rev·2000 > total`, not a float threshold. */
  def q27PartValueShare(s: SparkSession, d: String): DataFrame = {
    val dp = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val pr = Tables.lineitem(s, d).groupBy(col("l_partkey"))
      .agg(moneySum(dp, 10000).as("rev_c"))
    val tot = pr.agg(sum("rev_c").cast("long").as("tot_c"))
    pr.crossJoin(broadcast(tot))
      .filter(col("rev_c") * 2000 > col("tot_c"))
      .select(col("l_partkey").cast("long").as("l_partkey"),
        (col("rev_c") / lit(10000.0)).as("revenue"),
        (col("rev_c") / col("tot_c")).as("share"))
  }

  /** Priority shipping report (TPC-H Q12 shape): per return flag, line
    * counts split by order-priority class. The date filter pushes to
    * the fact scan; orders projects two columns and joins on the
    * orderkey equi-key (both sides scale-linear — no broadcast hint,
    * AQE decides); conditional counts fold into ONE map-side-combined
    * aggregate over O(flags) keys. */
  def q28PriorityClass(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
        .otherwise(0L).as("is_high"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(sum(col("is_high")).as("high_line_count"),
        sum(lit(1L) - col("is_high")).as("low_line_count"))
  }

  /** Returned-item revenue report (TPC-H Q10 shape): top-20 customers
    * by revenue lost to returns in one year. Aggregates to O(active
    * customers) rows BEFORE touching customer attributes (the Q10
    * plan discipline — the top-k never sorts pre-agg fact rows), then
    * equi-joins attributes (customer is scale-linear: no hint, AQE
    * decides; nation is a true 25-row dim: broadcast). Ties break on
    * custkey so the top-20 set is engine-independent. */
  def q29ReturnedCustomers(s: SparkSession, d: String): DataFrame = {
    val dp = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
    Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(moneySum(dp, 10000).as("rev_c"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .orderBy(col("rev_c").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
        col("n_name"), (col("rev_c") / lit(10000.0)).as("revenue"))
  }

  /** Nation-flow volume report (TPC-H Q7 shape): revenue between every
    * (supplier nation, customer nation) pair per ship year — the
    * two-sided dimension join Q5's star doesn't exercise. nation (25
    * rows) broadcasts onto customer and supplier; the fact joins
    * orders→customer on their scale-linear equi-keys (AQE decides the
    * strategy); the final aggregate is O(nations² · years) with
    * map-side combine. */
  def q30NationFlow(s: SparkSession, d: String): DataFrame = {
    val dp = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val cn = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("cn_key"),
          col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cn_key"))
      .select(col("c_custkey"), col("cust_nation"))
    val sn = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00")))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(cn, col("o_custkey") === col("c_custkey"))
      .join(sn, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(moneySum(dp, 10000).as("rev_c"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        (col("rev_c") / lit(10000.0)).as("revenue"))
  }

  /** Repeat-customer report: per market segment, active customers in
    * one year and the share who ordered more than once (the retention
    * KPI on the relational schema). Per-customer counts first (the
    * only data-sized shuffle, map-side combined), then the customer
    * attribute equi-join (scale-linear — no hint, AQE decides), then
    * an O(segments) conditional rollup; the rate divides two exact
    * Longs. */
  def q31RepeatCustomers(s: SparkSession, d: String): DataFrame = {
    val oc = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    oc.join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("n_orders") >= 2, 1L).otherwise(0L)).as("n_repeat"))
      .withColumn("repeat_rate", col("n_repeat") / col("n_customers"))
  }

  // ---------- events (batch twins of the streaming ops) ----------

  // events.ts arrives as Long nanoseconds (nanosAsLong — Spark 4 has no
  // nanosecond timestamp type). All time math stays in exact integer
  // space, never a double round-trip — 1.7e18 ns exceeds double's 2^53
  // exact-integer range. Integer division is FLOOR division (below):
  // Spark's `div` truncates toward zero while DuckDB's `//` floors, and
  // they agree only on non-negative operands — a pre-1970 timestamp or
  // a negative JSON field would bucket differently across engines.

  /** Floor division of an integer expression by a positive constant —
    * engine-portable for NEGATIVE operands too: x − pmod(x, d) is the
    * exact floor multiple of d (pmod is non-negative), so the `div`
    * truncation is exact and equals floor(x/d). */
  private def floorDiv(x: String, d: Long): Column =
    expr(s"(($x) - pmod(($x), ${d}L)) div ${d}L")

  def e1EventWindowAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(
        (floorDiv("ts", 3600000000000L) * 3600).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        (moneySum(col("value"), 10000) / lit(10000.0)).as("sum_value"))

  /** Events projected to exact integer microseconds (floor(ns/1000) —
    * identical to DuckDB's epoch_us on its µs timestamps, which floors
    * for pre-1970 instants too). */
  private def eventsUs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("user_id").cast("long").as("user_id"),
      col("event_id").cast("long").as("event_id"),
      floorDiv("ts", 1000L).as("us"), col("event_type"))

  /** As-of join: each purchase matched to the user's latest click
    * at-or-before it (TemporalJoins.asofJoin — union + carry-forward,
    * one shuffle). */
  def e3AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = eventsUs(s, d)
    TemporalJoins.asofJoin(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click"),
      "user_id", "us", "event_id")
      .select(col("user_id"), col("event_id"), col("us"),
        col("asof_id").as("click_id"), col("asof_ts").as("click_us"))
  }

  /** Bounded range join: per purchase, how many views the user made in
    * the preceding hour (TemporalJoins.rangeJoinAgg — time-cell
    * bucketed, candidates bounded, never an inequality cross join). */
  def e4RangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = eventsUs(s, d)
    TemporalJoins.rangeJoinAgg(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "view"),
      "user_id", "us", "event_id", delta = 3600000000L)
  }

  /** Ordered funnel view → click → purchase: per user, the earliest
    * view, the earliest click AT-OR-AFTER that view, and the earliest
    * purchase at-or-after that click; depth = stages reached. Every
    * stage is a min-aggregate + join keyed on user_id — one partitioning
    * reused across all three stages (co-partitioned joins, no
    * re-shuffle), which is the 100 TB funnel shape. Missing stages
    * surface as -1 sentinels (hash-comparable, no NULL ordering). */
  def e5Funnel(s: SparkSession, d: String): DataFrame =
    TemporalJoins.funnel(eventsUs(s, d), "user_id", "us", "event_type",
      Seq("view", "click", "purchase"))

  /** Weekly cohort retention: cohort = week of the user's first event;
    * for each (cohort_week, week_offset) the count of users active
    * offset weeks later. All week math is integer division on exact
    * microseconds. Three shuffles, all keyed on user_id (first-event
    * min, self-join, per-user-week distinct) — co-partitioned end to
    * end; the final (cohort, offset) aggregate is cohorts×weeks rows. */
  def e6Retention(s: SparkSession, d: String): DataFrame = {
    val x = eventsUs(s, d)
      .select(col("user_id"), floorDiv("us", 604800000000L).as("wk"))
    val cohort = x.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    x.join(cohort, "user_id")
      .select(col("user_id"), col("cohort_wk"),
        (col("wk") - col("cohort_wk")).as("week_offset"))
      .distinct()
      .groupBy("cohort_wk", "week_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  /** Semi-structured extraction: parse the events' JSON `props` payload
    * and aggregate by (event_type, k-decile). JSON stays opaque until
    * this query, then `get_json_object` (codegen'd path evaluation, no
    * UDF) projects the one needed field — the schema-on-read shape every
    * log pipeline needs. Map-side combine keeps the shuffle at
    * O(groups). */
  def e7JsonProps(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"), floorDiv("k", 10L).as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))

  /** Hourly event counts PIVOTED to one column per event type — the
    * wide-report shape (`RelationalGroupedDataset.pivot` with explicit
    * values, so the plan is a single pass with no distinct-values
    * pre-query). Missing combinations coalesce to 0 to match the
    * oracle's FILTER counts. */
  def e8EventPivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(floorDiv("ts", 3600000000000L).as("hr"), col("event_type"))
      .groupBy("hr")
      .pivot("event_type", Seq("view", "click", "purchase", "signup",
        "error"))
      .agg(count(lit(1)))
      .select(col("hr"),
        coalesce(col("view"), lit(0L)).as("n_view"),
        coalesce(col("click"), lit(0L)).as("n_click"),
        coalesce(col("purchase"), lit(0L)).as("n_purchase"),
        coalesce(col("signup"), lit(0L)).as("n_signup"),
        coalesce(col("error"), lit(0L)).as("n_error"))

  /** Hot-key enrichment join through the SALTED fallback — the skew
    * path measured under the gate, not just spec-asserted. event_type
    * has 5 values (~20% of the fact table EACH — every key is hot), so
    * a plain shuffled equi-join lands each type on one task;
    * Skew.saltedJoin spreads every key over 8 salt buckets (40 shuffle
    * keys) while staying row-identical to the plain join. The merge
    * hint pins the shuffle path (the dim is broadcast-sized here, which
    * would silently skip the machinery being measured; at 100 TB a
    * skewed build side isn't). Output aggregates per type, so the gate
    * catches any row drop/duplication the salting could introduce. */
  def e9SkewEnrich(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("value"))
    val dim = ev.groupBy("event_type")
      .agg(count(lit(1)).as("type_n"))
    Skew.saltedJoin(ev, dim.hint("merge"), Seq("event_type"), buckets = 8)
      .groupBy("event_type", "type_n")
      .agg(count(lit(1)).as("n_joined"),
        (moneySum(col("value"), 10000) / lit(10000.0)).as("sum_value"))
  }

  /** Conversion lag — the attribution primitive behind every funnel
    * dashboard: per user, the first 'view' and first 'purchase'
    * timestamps and their exact-µs gap, for users who did both. ONE
    * map-side-combined groupBy(user_id) with conditional mins — never
    * a view×purchase self-join (which a hot user would make
    * quadratic); the lag can be negative (purchase before any view) —
    * that is signal, not an error. */
  def e10ConversionLag(s: SparkSession, d: String): DataFrame =
    eventsUs(s, d)
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("us"))).as("first_view_us"),
        min(when(col("event_type") === "purchase", col("us")))
          .as("first_purchase_us"))
      .filter(col("first_view_us").isNotNull &&
        col("first_purchase_us").isNotNull)
      .select(col("user_id"), col("first_view_us"), col("first_purchase_us"),
        (col("first_purchase_us") - col("first_view_us")).as("lag_us"))

  /** Watermark-lateness accounting — the batch twin of Structured
    * Streaming's late-event drop (streaming/StreamingOps' windowed aggs
    * declare `withWatermark("1 hour")`; this key gates, per user, how
    * many events that policy would discard and how late the worst one
    * was). Arrival order is a seeded hash permutation of event_id (the
    * v5 sampling hash — the synthetic stand-in for a real ingest log's
    * arrival sequence, which the generator's ts-sorted event_id can't
    * play); the per-user event-time high-water mark is a running max
    * over arrival order, an event is late when it trails the prior
    * high-water mark by more than the watermark (1 h in exact integer
    * µs). The window partitions by user_id — per-key state exactly
    * like the streaming runtime's, never a whole-stream single-task
    * sort. */
  def e11LateEvents(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("arr", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    eventsUs(s, d)
      .withColumn("arr", Sampling.portableHash(col("event_id")))
      .withColumn("hwm", max("us").over(w))
      .withColumn("late_us",
        when(col("hwm") - col("us") > lit(3600000000L),
          col("hwm") - col("us")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        count(col("late_us")).as("n_late"),
        max(col("late_us")).as("max_late_us"))
  }

  /** Daily top-3 spenders — the leaderboard shape (top-k by aggregate
    * per time bucket). Phase 1 is a map-side-combined (day, user) cents
    * rollup — the only data-sized shuffle; phase 2 cuts top-3 per day
    * through the native partial top-k aggregate (per-partition heaps,
    * O(days·k·partitions) shuffle — never a per-day sort window over
    * all spenders, the t5/t8 hot-key lesson). Cents ride as exact
    * Longs; ties break to the lowest user_id inside the aggregate,
    * mirrored by the oracle's ORDER BY. */
  def e12TopSpenders(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy((floorDiv("ts", 86400000000000L) * 86400).as("day_epoch"),
        col("user_id").cast("long").as("user_id"))
      .agg(moneySum(col("value"), 100).as("cents"))
    TopK.perGroup(spend, "day_epoch", "user_id", "cents", k = 3,
      ascending = false)
      .select(col("day_epoch"), col("rnk"), col("user_id"),
        (col("cents") / lit(100.0)).as("spend"))
  }

  /** Sliding-window distinct users — 3-day windows stepping 1 day,
    * the streaming `window(..., "3 days", "1 day")` shape as its exact
    * batch twin: each event fans out to the ≤3 windows containing it
    * (`explode(sequence)` — map-side, no driver loop) and the
    * per-window COUNT(DISTINCT) runs as Spark's two-phase expand+agg
    * (partial distinct per partition, then merge — no single-task
    * window). Edge windows are partial by contract (both engines
    * share the arithmetic). At 100 TB the same plan holds; if exact
    * distinct ever dominates, the HLL sketch twin (Sketches) is the
    * documented approximate fallback. */
  def e13SlidingDau(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(floorDiv("ts", 86400000000000L).as("day"),
        col("user_id").cast("long").as("user_id"))
      .select(explode(sequence(col("day") - 2, col("day"))).as("win_day"),
        col("user_id"))
      .groupBy((col("win_day") * 86400).as("window_epoch"))
      .agg(countDistinct(col("user_id")).as("dau"),
        count(lit(1)).as("n_events"))

  /** DAU/WAU stickiness — per day, daily actives over trailing-7-day
    * actives (the engagement ratio product analytics tracks). Sliding
    * DISTINCT can't pre-aggregate, so the window replicates each event
    * onto the 7 window-days it serves (e13's trade: ×7 fixed-width
    * rows beats a per-day 7-way distinct-set union) and both counts
    * are two-phase hash countDistincts; the day-keyed join moves two
    * O(days) frames. stickiness is one IEEE division of exact Longs. */
  def e22Stickiness(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(floorDiv("ts", 86400000000000L).as("day"),
        col("user_id").cast("long").as("user_id"))
    val dau = ev.groupBy(col("day"))
      .agg(countDistinct("user_id").as("dau"))
    val wau = ev
      .select(explode(sequence(col("day"), col("day") + 6)).as("day"),
        col("user_id"))
      .groupBy(col("day")).agg(countDistinct("user_id").as("wau"))
    dau.join(wau, "day")
      .select((col("day") * 86400).as("day_epoch"), col("dau"), col("wau"),
        (col("dau") / col("wau")).as("stickiness"))
  }

  /** RFM customer segmentation — the classic recency / frequency /
    * monetary quartile grid marketing and churn models consume. Per-user
    * R/F/M metrics are ONE map-side-combined aggregate (recency in
    * whole days from the corpus max-ts scalar, monetary in exact
    * purchase cents); each quartile threshold then comes from e19's
    * TWO-PHASE positional selection over a value-DOMAIN histogram —
    * recency lives in O(days), frequency in O(max events/user), and
    * monetary is deliberately bucketed to whole dollars so its domain
    * is bounded by the spend range, NOT the user count (the t7 rule:
    * the cumulative window runs over domain-sized frames, never a
    * whole-population sort). Threshold position is exact integer
    * ceil-arithmetic `(p·n + 99) div 100`; quartile membership is
    * `1 + Σ(v > t_p)` against the three broadcast 1-row thresholds, so
    * boundary users can never flip across engines. Output: the
    * 4×4×4 segment grid with user counts and exact dollar totals. */
  def e23Rfm(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val now = ev.agg(max("ts").as("now"))
    val u = ev
      .groupBy(col("user_id").cast("long").as("user_id"))
      .agg(max("ts").as("last_ts"), count(lit(1)).as("freq"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L))
          .as("mon_c"))
      .crossJoin(broadcast(now))
      .select(col("user_id"), col("freq"), col("mon_c"),
        expr("(now - last_ts) div 86400000000000").as("rec_d"),
        expr("mon_c div 100").as("mon_dollars"))
      // r14 optimization (guide §2.4): the per-user frame feeds three
      // metric histograms AND the final segment pass — checkpointed, the
      // events aggregate runs once instead of riding (exchange-reused
      // but re-planned) in seven subtrees of one 288-exchange plan.
      .localCheckpoint(false)
    // total user count — identical for every metric (it is sum(cnt) of
    // ANY metric's histogram): one shared 1-row frame, not one per metric
    val nuF = u.agg(count(lit(1)).cast("long").as("nu"))
    // exact quartile thresholds by positional selection over the value
    // DOMAIN (distinct-value histogram + cumulative window), e19-style.
    // r14 optimization: the three thresholds come out of ONE aggregate
    // over ONE cumulative-window pass — exactly one histogram row
    // satisfies each positional predicate (cum is strictly increasing
    // and the position lands in [1, nu]), so max(when(pred, v)) IS that
    // row's v: identical to the r13 filter→1-row-frame → crossJoin
    // chain, minus two window re-computations and two crossJoins per
    // metric.
    def thresholds(metric: String): DataFrame = {
      val hist = u.groupBy(col(metric).as("v")).agg(count(lit(1)).as("cnt"))
      val cum = hist
        .withColumn("cum", sum("cnt").over(Window.orderBy("v")).cast("long"))
        .crossJoin(broadcast(nuF))
      def thr(p: Int) = max(when(expr(
        s"cum - cnt < ($p * nu + 99) div 100 AND ($p * nu + 99) div 100 <= cum"),
        col("v"))).as(s"${metric}_t$p")
      cum.agg(thr(25), thr(50), thr(75))
    }
    def quart(v: Column, m: String): Column =
      lit(1L) + (v > col(s"${m}_t25")).cast("long") +
        (v > col(s"${m}_t50")).cast("long") +
        (v > col(s"${m}_t75")).cast("long")
    u.crossJoin(broadcast(thresholds("rec_d")))
      .crossJoin(broadcast(thresholds("freq")))
      .crossJoin(broadcast(thresholds("mon_dollars")))
      .select(col("user_id"), col("mon_c"),
        quart(col("rec_d"), "rec_d").as("r_q"),
        quart(col("freq"), "freq").as("f_q"),
        quart(col("mon_dollars"), "mon_dollars").as("m_q"))
      .groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_users"),
        (sum("mon_c") / lit(100.0)).as("total_monetary"))
  }

  /** Per-type value-anomaly rates — events whose value deviates more
    * than 3σ from THEIR OWN USER's mean (the self-baseline fraud/bot
    * signal: a stolen account's purchases jump against the account's
    * history, not the global distribution). The 3σ test is the EXACT
    * cross-multiplied integer comparison
    * `(v·n − S)²·(n−1) > 9·n·(n·S2 − S²)` on cents — never a float
    * z-score threshold (an ulp would flip boundary events across
    * engines); sums ride as Decimal(38,0) ≡ HUGEINT (cents·n squares
    * past Long). Per-user (n, S, S2) is ONE map-side-combined
    * aggregate; the join back to events shares the user_id shuffle
    * key; the rollup is O(event types). n=1 users contribute 0>0 =
    * false — degenerate variance handled without a branch. */
  def e24ValueOutliers(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val x = Tables.events(s, d)
      .select(col("user_id").cast("long").as("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("v_c"))
    val u = x.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("v_c").cast(dec)).as("sv"),
        sum(col("v_c").cast(dec) * col("v_c").cast(dec)).as("sv2"))
    val lhs = (col("v_c").cast(dec) * col("n").cast(dec) - col("sv"))
    val rhs = lit(9).cast(dec) * col("n").cast(dec) *
      (col("n").cast(dec) * col("sv2") - col("sv") * col("sv"))
    x.join(u, "user_id")
      .select(col("event_type"),
        when(lhs * lhs * (col("n").cast(dec) - lit(1).cast(dec)) > rhs,
          1L).otherwise(0L).as("is_out"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum("is_out").cast("long").as("n_outliers"))
      .withColumn("outlier_share", col("n_outliers") / col("n_events"))
  }

  /** Week-over-week active-user trend — WAU per epoch week plus the
    * previous week's value and the growth ratio (the topline health
    * metric next to e22's stickiness). The data-sized work is ONE
    * two-phase hash countDistinct to an O(weeks) frame; the lag window
    * orders only that weeks frame (calendar-bounded, never
    * event-scale); week numbers are exact floor-division epoch weeks;
    * growth is ONE IEEE division of exact Longs (prev ≥ 1 whenever it
    * exists, so the division is always defined). */
  def e25WowTrend(s: SparkSession, d: String): DataFrame = {
    val wau = Tables.events(s, d)
      .select(floorDiv("ts", 604800000000000L).as("wk"),
        col("user_id").cast("long").as("user_id"))
      .groupBy("wk").agg(countDistinct("user_id").as("wau"))
    wau
      .withColumn("prev", lag("wau", 1).over(Window.orderBy("wk")))
      .select((col("wk") * 604800).as("week_epoch"), col("wau"),
        coalesce(col("prev"), lit(0L)).as("prev_wau"),
        when(col("prev").isNotNull,
          (col("wau") - col("prev")).cast("double") / col("prev"))
          .otherwise(lit(0.0)).as("wow_growth"))
  }

  /** Per-user event cadence — inter-event gap count/mean/variance in
    * exact arithmetic (the metronome signal bot detection keys on: a
    * scripted client's gap variance collapses toward 0). Gaps come
    * from a per-user lag window (per-key state, the e2 shape — never a
    * whole-stream sort); Σgap and Σgap² ride as Decimal(38,0) (a 30-day
    * µs gap squares to ~7e24, past Long; DuckDB mirrors in HUGEINT);
    * variance is v19's exact identity (n·Σx² − (Σx)²) / (n·(n−1)) with
    * ONE IEEE division at the end, so both engines land on the same
    * bits. */
  def e14Cadence(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    eventsUs(s, d)
      .withColumn("prev", lag(col("us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("user_id"), (col("us") - col("prev")).as("gap"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap").cast(dec)).as("sg"),
        sum(col("gap").cast(dec) * col("gap").cast(dec)).as("sg2"))
      .select(col("user_id"), col("n_gaps"),
        (col("sg").cast("double") / col("n_gaps")).as("mean_gap_us"),
        when(col("n_gaps") >= 2,
          (col("n_gaps").cast(dec) * col("sg2") - col("sg") * col("sg"))
            .cast("double")
            / expr("n_gaps * (n_gaps - 1)").cast("double"))
          .otherwise(lit(0.0)).as("var_gap"))
  }

  /** Event-type transition matrix — the path/Markov analysis behind
    * funnel design (which step follows which, for how many users).
    * Consecutive pairs come from the per-user lag window (per-key
    * state, the e2 shape — never a self-join on adjacent timestamps,
    * which goes quadratic on a hot user); the transition rollup is one
    * map-side-combined groupBy over O(types²) keys, with the exact
    * two-phase distinct for per-transition user reach. */
  def e15Transitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    eventsUs(s, d)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type").as("from_type"),
        col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Day-over-day spike detection — days whose event count exceeds 2×
    * the trailing-7-day mean (the volume-anomaly monitor every ingest
    * pipeline runs). The corpus-sized work is ONE map-side-combined
    * daily rollup (O(days) rows out); the trailing frame is a RANGE
    * window over day numbers on that tiny frame (the q11 precedent:
    * days don't scale with the fact table, so the single-partition
    * window is safe by construction). The spike test cross-multiplies
    * to exact integers — n·n_prior > 2·Σprior — never a float mean
    * threshold a boundary day could flip across engines. */
  def e16SpikeDays(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy("day").rangeBetween(-7, -1)
    Tables.events(s, d)
      .groupBy(floorDiv("ts", 86400000000000L).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("sum_prior", coalesce(sum("n").over(w), lit(0L)))
      .withColumn("n_prior", count(lit(1)).over(w))
      .select((col("day") * 86400).as("day_epoch"), col("n"),
        col("n_prior"), col("sum_prior"),
        when(col("n_prior") > 0 &&
          col("n") * col("n_prior") > lit(2L) * col("sum_prior"), 1L)
          .otherwise(0L).as("is_spike"))
  }

  /** Power-user report — users at or above the exact p99 of the
    * per-user event-count distribution (the heavy-account signal
    * behind rate limits and bot review). The threshold comes from
    * q26/t7's TWO-PHASE positional selection applied to a DERIVED
    * distribution: per-user counts (the only data-sized shuffle) →
    * distinct-count histogram → cumulative-count window over O(max
    * events/user) rows (corpus-independent, never a whole-population
    * sort); rank position is exact integer arithmetic ((99n+99) div
    * 100); the 1-row threshold broadcasts back. */
  def e19PowerUsers(s: SparkSession, d: String): DataFrame = {
    val u = Tables.events(s, d)
      .groupBy(col("user_id").cast("long").as("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val hist = u.groupBy("n_events").agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy("n_events")
    val thr = hist
      .withColumn("cum", sum("cnt").over(wCum).cast("long"))
      .crossJoin(broadcast(hist.agg(sum("cnt").cast("long").as("nu"))))
      .filter(expr(
        "cum - cnt < (99 * nu + 99) div 100 AND (99 * nu + 99) div 100 <= cum"))
      .select(col("n_events").as("thr"))
    u.crossJoin(broadcast(thr)).filter(col("n_events") >= col("thr"))
      .select(col("user_id"), col("n_events"), col("thr"))
  }

  /** Longest-streak engagement profile — the gaps-and-islands shape:
    * per user, the longest run of CONSECUTIVE active days (plus total
    * active days and streak count). Islands via the classic
    * day − row_number() group key: consecutive days share a constant
    * difference, so one per-user window (per-key state, the e2
    * sessionize shape — never a whole-stream sort) labels every run,
    * and two map-side-combined aggregates finish it. Day numbers are
    * exact floor-division epoch days, portable for pre-1970 too. */
  def e18UserStreaks(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    Tables.events(s, d)
      .select(col("user_id").cast("long").as("user_id"),
        floorDiv("ts", 86400000000000L).as("day"))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .withColumn("grp", col("day") - col("rn"))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(max("len").as("max_streak"),
        sum("len").cast("long").as("n_active_days"),
        count(lit(1)).as("n_streaks"))
  }

  /** Day-of-week seasonality profile — the weekly-rhythm report behind
    * capacity planning and anomaly baselines (e16's natural companion).
    * ONE map-side-combined groupBy over 7 keys; day-of-week is exact
    * integer arithmetic on the epoch-day number ((day + 4) mod 7 —
    * 1970-01-01 was a Thursday), identical in both engines — never an
    * engine-specific date function whose week-start convention could
    * differ. Purchase share divides two exact Longs once per row;
    * distinct users is the standard two-phase distinct aggregate. */
  def e17DowProfile(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(pmod(floorDiv("ts", 86400000000000L) + 4, lit(7L)).as("dow"),
        col("event_type"), col("user_id").cast("long").as("user_id"),
        col("value"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchase"),
        countDistinct(col("user_id")).as("n_users"),
        (moneySum(col("value"), 10000) / lit(10000.0)).as("sum_value"))
      .withColumn("purchase_share", col("n_purchase") / col("n"))

  def e2Sessionize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), floorDiv("ts", 1000L).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull || col("us") - col("prev") > 1800000000L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id").cast("long").as("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("new_sess").as("n_sessions"))
  }

  /** First-touch attribution — the product-analytics revenue split: each
    * user's purchases credit the event type that FIRST brought them in.
    * First touch per user is ONE aggregation via lexicographic
    * `min(struct(us, event_id, type))` — never a per-user sort window —
    * and the purchase rollup pre-aggregates per user BEFORE the join,
    * so the attribution join moves two O(users) frames hash-joined on
    * user_id (both sides already combined map-side). Cents-exact money
    * sums; the two rates are IEEE divisions of exact Longs. */
  def e21Attribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), floorDiv("ts", 1000L).as("us"))
    val first = ev.groupBy(col("user_id"))
      .agg(min(struct(col("us"), col("event_id"), col("event_type")))
        .as("f"))
      .select(col("user_id"), col("f.event_type").as("first_type"))
    val buys = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(moneySum(col("value"), 10000).as("cents"))
    first.join(buys, Seq("user_id"), "left")
      .groupBy("first_type")
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("cents").isNotNull, 1L).otherwise(0L)).as("n_buyers"),
        (coalesce(sum("cents"), lit(0L)) / lit(10000.0)).as("attr_value"))
      .withColumn("conv_rate", col("n_buyers") / col("n_users"))
  }

  /** Session-shape distribution — e2's sessionization carried one step
    * further to per-session rows (running-sum session ids over the SAME
    * per-user windows e2 already uses — parallel across users, never a
    * global sort), then rolled up into a duration histogram: sessions
    * per whole-minute duration bucket with exact size stats. The
    * histogram groupBy is map-side combined; output is O(distinct
    * durations) rows. avg_len is one IEEE division of exact Longs. */
  def e20SessionStats(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val sess = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), floorDiv("ts", 1000L).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull || col("us") - col("prev") > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_ev"), (max("us") - min("us")).as("dur_us"))
    sess
      .groupBy(floorDiv("dur_us", 60000000L).as("dur_min"))
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_ev").cast("long").as("sum_events"),
        max("n_ev").cast("long").as("max_len"))
      .withColumn("avg_len", col("sum_events") / col("n_sessions"))
  }

  // ---------- round-6d: graph diagnostics, retrieval eval, ops reports ----------

  /** Per-user session frame (user_id, sess_id, s_us, e_us, n_ev) — e2's
    * gated sessionization rolled to one row per session. Window is
    * per-user (parallel across users, never a global sort); the rollup
    * groupBy is map-side combined. Shared by e26/e27. */
  private def sessionFrame(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    eventsUs(s, d)
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull || col("us") - col("prev") > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min("us").as("s_us"), max("us").as("e_us"),
        count(lit(1)).as("n_ev"))
  }

  /** In-degree histogram of the v28 KNN graph — the hubness diagnostic
    * every graph-ANN build (NN-descent/HNSW) watches: hub nodes (huge
    * in-degree) and orphan nodes (in-degree 0, unreachable by greedy
    * search) both predict recall loss. Scale shape: the edge list is
    * O(N·k); its dst-keyed count is map-side combined; the node join is
    * an O(N) id-equi join; the final histogram is O(distinct degrees)
    * rows. Never touches vectors at all: the edge list comes from the
    * persisted store ([[persistedLayerEdges]] — the graph is built per
    * snapshot, diagnostics read it), and the node universe is the raw
    * id column. */
  def v52GraphDegree(s: SparkSession, d: String): DataFrame = {
    val deg = persistedLayerEdges(s, d, 0)
      .groupBy(col("dst_id").as("id")).agg(count(lit(1)).as("deg"))
    emb(s, d).select(col("vec_id").cast("long").as("id"))
      .join(deg, Seq("id"), "left")
      .select(coalesce(col("deg"), lit(0L)).as("in_degree"))
      .groupBy("in_degree").agg(count(lit(1)).as("n_nodes"))
  }

  /** Reciprocal rank of the TRUE first non-self neighbor (exact rank 2
    * — rank 1 is the query itself, present in its own gallery) within
    * the v10 LSH list — MRR's per-query row, the ranking-quality eval
    * that recall@k (v20) can't see: it distinguishes "found at rank 1"
    * from "found at rank 5". Both inputs are gated O(Q·k) frames →
    * broadcast join; rr is ONE integer-over-integer IEEE division
    * (1/rank), 0.0 when the LSH list misses the target entirely. */
  def v53LshMrr(s: SparkSession, d: String): DataFrame = {
    val target = v1KnnL2(s, d).filter(col("rnk") === 2)
      .select(col("query_id"), col("neighbor_id").as("target_id"))
    val approx = v10LshSearch(s, d)
      .select(col("query_id").as("qa"), col("neighbor_id").as("na"),
        col("rnk").cast("long").as("arnk"))
    target.join(broadcast(approx),
        col("query_id") === col("qa") && col("target_id") === col("na"),
        "left")
      .select(col("query_id"), col("target_id"),
        coalesce(col("arnk"), lit(0L)).as("found_rank"),
        coalesce(lit(1L) / col("arnk"), lit(0.0)).as("rr"))
  }

  /** Per-label edge purity of the v28 KNN graph — the fraction of each
    * class's outgoing edges that stay inside the class: the cheap
    * embedding-space label-consistency diagnostic (low purity = classes
    * that bleed into each other = mislabels or a weak encoder). Edges
    * are O(N·k) and read from the persisted store ([[persistedLayerEdges]]
    * — no per-diagnostic rebuild); the two label lookups are id-keyed
    * equi joins against the O(N) label frame; the rollup is map-side
    * combined to O(labels) rows with ONE IEEE division each. */
  def v54KnnPurity(s: SparkSession, d: String): DataFrame = {
    val lab = emb(s, d).select(col("vec_id").cast("long").as("id"),
      col("label").cast("long").as("lab"))
    val edges = persistedLayerEdges(s, d, 0)
    edges
      .join(lab.select(col("id").as("src_id"), col("lab").as("src_lab")),
        "src_id")
      .join(lab.select(col("id").as("dst_id"), col("lab").as("dst_lab")),
        "dst_id")
      .groupBy(col("src_lab").as("label_id"))
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("src_lab") === col("dst_lab"), 1L).otherwise(0L))
          .as("n_same"))
      .withColumn("purity", col("n_same") / col("n_edges"))
  }

  /** Per-source Simpson diversity — the repeat probability Σc(c−1) /
    * T(T−1): the log-free twin of entropy (exact integers + ONE IEEE
    * division, where Shannon entropy would need an order-dependent
    * float sum neither engine can mirror bit-for-bit). Low Simpson =
    * diverse vocabulary; 1.0 = one token repeated. Two map-side
    * combined aggregates: corpus → (source, term) counts → O(sources)
    * rows. The Σc(c−1) sum and the T(T−1) denominator both ride
    * Decimal(38,0) ≡ HUGEINT (the t23/e14 pattern — in Long both wrap
    * past ~3·10⁹ tokens per source, a real count at 100 TB); rep_pairs
    * casts back to Long at the output where overflow turns loudly
    * null, and the Simpson ratio is the same ONE IEEE division of
    * integer-exact doubles on both engines. */
  def t25Simpson(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    docs(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"), sum("c").cast("long").as("n_tok"),
        sum(col("c").cast(dec) * (col("c") - 1).cast(dec)).as("rep_d"))
      .select(col("source"), col("vocab"), col("n_tok"),
        col("rep_d").cast("long").as("rep_pairs"),
        when(col("n_tok") > 1,
          col("rep_d").cast("double")
            / (col("n_tok").cast(dec) * (col("n_tok").cast(dec) - 1))
              .cast("double"))
          .otherwise(lit(0.0)).as("simpson"))
  }

  /** Duplicate-trigram fraction per doc — the Gopher/C4 repetition
    * signal t9's modal-token stats don't capture: what share of a
    * doc's 3-gram OCCURRENCES are repeats of an earlier one. Map-only
    * (two array expressions per row, no shuffle, no UDF): total
    * trigrams is max(n_tok−2, 0), distinct trigrams is the shingle-set
    * size. NULL text is contracted to '' on both engines. */
  def t26DupNgrams(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"),
        greatest(size(tokens(coalesce(col("text"), lit("")))) - 2, lit(0))
          .cast("long").as("n_tri"),
        size(shingles(coalesce(col("text"), lit("")), 3)).cast("long")
          .as("n_uniq"))
      .withColumn("dup_frac",
        when(col("n_tri") > 0,
          (col("n_tri") - col("n_uniq")) / col("n_tri"))
          .otherwise(lit(0.0)))

  /** Per-day bounce rate — sessions that never got a second event, by
    * day of session start: the engagement health metric on top of e2's
    * gated sessionization. Session build is per-user windows; the
    * rollup is a map-side combined O(days) aggregate with ONE IEEE
    * division per row. */
  def e26BounceRate(s: SparkSession, d: String): DataFrame =
    sessionFrame(s, d)
      .groupBy((floorDiv("s_us", 86400000000L) * 86400).as("day_epoch"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_ev") === 1L, 1L).otherwise(0L)).as("n_bounce"))
      .withColumn("bounce_rate", col("n_bounce") / col("n_sessions"))

  /** Peak concurrent sessions per day — the capacity-planning number:
    * sweep-line over session intervals [s_us, e_us], concurrency
    * sampled at each distinct boundary instant AFTER applying all of
    * that instant's deltas (the deterministic tie contract, mirrored by
    * the oracle). The global running sum is TWO-LEVEL like m3: deltas
    * net per distinct instant, instants chunk by hour — level 1 runs
    * the prefix WITHIN each hour (parallel across hours), level 2
    * prefix-sums the per-hour nets (one row per hour — the only
    * unpartitioned window, O(#hours) rows by construction, 8760/year).
    * Cross-midnight sessions are carried correctly by the hour offsets
    * — nothing resets at day boundaries. */
  def e27PeakConcurrent(s: SparkSession, d: String): DataFrame = {
    val sess = sessionFrame(s, d)
    val deltas = sess.select(col("s_us").as("us"), lit(1L).as("delta"))
      .unionAll(sess.select((col("e_us") + 1L).as("us"),
        lit(-1L).as("delta")))
      .groupBy("us").agg(sum("delta").as("net"))
      .withColumn("chunk", floorDiv("us", 3600000000L))
    val wLocal = Window.partitionBy("chunk").orderBy("us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wChunk = Window.orderBy("chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = deltas.groupBy("chunk").agg(sum("net").as("chunk_net"))
      .withColumn("chunk_offset",
        coalesce(sum("chunk_net").over(wChunk), lit(0L)))
      .select("chunk", "chunk_offset")
    deltas
      .withColumn("local_cum", sum("net").over(wLocal))
      .join(offsets, Seq("chunk"))
      .withColumn("conc", col("chunk_offset") + col("local_cum"))
      .groupBy((floorDiv("us", 86400000000L) * 86400).as("day_epoch"))
      .agg(max("conc").cast("long").as("peak_concurrent"),
        count(lit(1)).as("n_instants"))
  }

  /** Manifest referential-integrity audit — the ingest gate a
    * multimodal store runs before training: every doc/vector id lands
    * in exactly one status (paired = quality-passed doc WITH a vector;
    * quality_reject = m6's filter failed; unvectorized = doc with no
    * embedding; orphan_vector = embedding with no doc). One O(N) full
    * outer id join (SMJ), map-side combined rollup to ≤4 rows. Quality
    * semantics are m6's own (same score, same thresholds) so the audit
    * can't drift from the manifest it audits. */
  def m10Integrity(s: SparkSession, d: String): DataFrame = {
    val caps = docs(s, d)
      .select(col("doc_id").cast("long").as("id"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        qualityScore(col("text")).as("quality"))
      .select(col("id"), lit(1L).as("has_doc"),
        when(col("quality") >= 0.4 && col("n_tok") >= 10L, 1L)
          .otherwise(0L).as("pass"))
    val vecs = emb(s, d).select(col("vec_id").cast("long").as("id"),
      lit(1L).as("has_vec"))
    caps.join(vecs, Seq("id"), "full")
      .groupBy(
        when(col("has_doc").isNull, "orphan_vector")
          .when(col("has_vec").isNull, "unvectorized")
          .when(col("pass") === 1L, "paired")
          .otherwise("quality_reject").as("status"))
      .agg(count(lit(1)).as("n"), min("id").as("min_id"),
        max("id").as("max_id"))
  }

  /** IVF scan-fraction curve — the COST column to v46's recall column:
    * the exact fraction of the gallery an nprobe ∈ {1,2,4} probe search
    * touches (Σ probed-list sizes over Q·N). Together the two tables
    * are the nprobe tuning decision. One assignment build feeds every
    * point; the occupancy frame is O(nlist); probes are O(Q·nprobe);
    * each point is a tiny join + one-row aggregate; ONE IEEE division
    * per row at the end. */
  def v55ScanFraction(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cents = seedCentroids(e)
    val occ = IvfIndex.assign(e, cents, "vec_id", "embedding", "cid")
      .groupBy("centroid_id").agg(count(lit(1)).as("n_in_list"))
    val total = e.agg(count(lit(1)).as("n_gallery"))
    val probes = KnnJoin.knnL2(cents.select(col("cid"), col("embedding")),
        queryVecs(e), "cid", "embedding", "vec_id", k = 4)
      .select(col("query_id"), col("rnk"),
        col("neighbor_id").as("centroid_id"))
    Seq(1, 2, 4).map { np =>
      probes.filter(col("rnk") <= np)
        .join(occ, "centroid_id")
        .agg(sum("n_in_list").cast("long").as("total_scanned"),
          countDistinct(col("query_id")).as("n_queries"))
        .select(lit(np.toLong).as("nprobe"), col("total_scanned"),
          col("n_queries"))
    }.reduce(_ unionByName _)
      .crossJoin(total)
      .withColumn("scan_frac",
        col("total_scanned") / (col("n_queries") * col("n_gallery")))
  }

  /** Recall@5 of the composite IVFPQ search (v13) vs the exact scan —
    * the eval point the v36 (PQ) / v39 (IVF) pair was missing: the
    * production index is the COMPOSITE, and its recall is not the
    * product of its parts (probe pruning and code quantization lose
    * different neighbors). Both inputs gated O(Q·k) frames → broadcast
    * join + tiny aggregate; oracle reuses v13's chain + v1's exact
    * ranking verbatim so the eval can't drift from the operators it
    * scores. */
  def v56IvfpqRecall(s: SparkSession, d: String): DataFrame =
    recallRow(v1KnnL2(s, d), v13IvfPqSearch(s, d))

  /** Per-doc punctuation/casing/digit profile — the C4/Gopher surface
    * signals t2's stopword score and t12's token-shape filters don't
    * read: sentence-punctuation density, ALL-CAPS shouting, numeric
    * tables. MAP-ONLY: four codegen'd regexp_replace+length counts per
    * row, no shuffle, no UDF; ASCII character classes (identical under
    * Java regex and RE2); NULL text contracted to ''; ratios are exact
    * integer/integer IEEE divisions. */
  def t27PunctProfile(s: SparkSession, d: String): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    def cnt(cls: String) =
      length(regexp_replace(t, s"[^$cls]", "")).cast("long")
    docs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"),
        length(t).cast("long").as("n_chars"),
        cnt(".!?").as("n_punct"), cnt("A-Z").as("n_upper"),
        cnt("0-9").as("n_digit"))
      .withColumn("punct_ratio",
        when(col("n_chars") > 0, col("n_punct") / col("n_chars"))
          .otherwise(lit(0.0)))
      .withColumn("upper_ratio",
        when(col("n_chars") > 0, col("n_upper") / col("n_chars"))
          .otherwise(lit(0.0)))
      .withColumn("digit_ratio",
        when(col("n_chars") > 0, col("n_digit") / col("n_chars"))
          .otherwise(lit(0.0)))
  }

  /** Transition-latency matrix — the LATENCY companion to e15's count
    * matrix: mean/max inter-event gap per (from_type → to_type) edge,
    * the funnel-friction signal transition counts can't show. Per-user
    * windows (parallel across users, e2's shape); the rollup is a
    * map-side combined O(types²) aggregate; sums ride Decimal(38,0) ≡
    * HUGEINT (e14's overflow-safe pattern) with ONE IEEE division per
    * row. */
  def e28TransitionLatency(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    eventsUs(s, d)
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .select(col("from_type"), col("event_type").as("to_type"),
        (col("us") - col("prev")).as("gap"))
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"),
        sum(col("gap").cast(dec)).as("sg"),
        max("gap").cast("long").as("max_gap_us"))
      .select(col("from_type"), col("to_type"), col("n"),
        (col("sg").cast("double") / col("n")).as("mean_gap_us"),
        col("max_gap_us"))
  }

  /** Filtered IVF probe search — the faiss IDSelector ON AN INDEX
    * (v15 is the full-scan form): candidates from the probed lists are
    * restricted by a metadata predicate BEFORE the top-k, so a
    * selective filter cheapens the scan instead of starving recall
    * post-hoc. The index side carries (id, vec, cid) only; the label
    * predicate joins in by id (an O(N) column-pruned lookup that AQE
    * plans as a broadcast of the tiny probed-candidate side). Same
    * probe chain as v7 — the oracle reuses it with one WHERE added. */
  def v58FilteredIvf(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cents = seedCentroids(e)
    val keep = e.filter(col("label") % 3 === 0)
      .select(col("vec_id").cast("long").as("id"))
    val index = IvfIndex.assign(e, cents, "vec_id", "embedding", "cid")
      .join(keep, "id")
    IvfIndex.search(index, cents, queryVecs(e),
      "vec_id", "embedding", "cid", "vec_id", k = 3, nprobe = 2)
  }

  /** Source-pair term-frequency cosine — t24's set-Jaccard asked "do
    * these crawls share vocabulary?"; this asks "do they USE it the
    * same way?" (frequency-weighted redundancy — two mirrors score ~1
    * even when one is a subset). Per-term join fanout is bounded by
    * the SOURCE count (t24's argument — never document-quadratic);
    * norms are one map-side-combined O(sources) frame joined back
    * twice; the cosine is exact-integer num over a FIXED
    * sqrt(double·double) expression, mirrored verbatim. Long headroom:
    * Σc² overflows past ~3·10⁹ occurrences of one term per source. */
  def t29TfCosine(s: SparkSession, d: String): DataFrame = {
    val counts = docs(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val norms = counts.groupBy("source")
      .agg(sum(col("c") * col("c")).cast("long").as("n2"))
    val num = counts.as("a").join(counts.as("b"),
        col("a.token") === col("b.token") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("a_source"),
        col("b.source").as("b_source"))
      .agg(sum(col("a.c") * col("b.c")).cast("long").as("num"))
    num
      .join(norms.select(col("source").as("a_source"),
        col("n2").as("na2")), "a_source")
      .join(norms.select(col("source").as("b_source"),
        col("n2").as("nb2")), "b_source")
      .select(col("a_source"), col("b_source"), col("num"), col("na2"),
        col("nb2"),
        (col("num") / sqrt(col("na2").cast("double")
          * col("nb2").cast("double"))).as("cosine"))
  }

  /** The FINAL training manifest — the capstone join a curation run
    * ships: documents that (a) are their near-dup cluster's keeper
    * (d19's rule over the guarded d6/d7 component chain) AND (b) pass
    * every Gopher gate (t12's keep flag), with source and exact token
    * count attached. Output is the deliverable row set a tokenizer
    * consumes. All inputs are already-gated chains; the intersection
    * is two id-equi joins. */
  def p8FinalManifest(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val labels = persistedDupLabels(s, d)
    val meta = dd.select(col("doc_id").cast("long").as("id"),
      col("source"), col("n_chars").cast("long").as("n_chars"))
    val keepers = labels.join(meta, "id")
      .groupBy("cluster_id")
      .agg(max(struct(col("n_chars"), (-col("id")).as("nid"))).as("m"))
      .select((-col("m.nid")).as("doc_id"))
    val quality = t12GopherQuality(s, d)
      .filter(col("keep") === 1L).select(col("doc_id"), col("n_tok"))
    keepers.join(quality, "doc_id")
      .join(dd.select(col("doc_id").cast("long").as("doc_id"),
        col("source")), "doc_id")
      .select(col("doc_id"), col("source"), col("n_tok"))
  }

  /** Hybrid search via reciprocal-rank fusion — THE production
    * vector+keyword retrieval shape (RRF, Cormack et al. SIGIR'09):
    * each query doc retrieves a vector top-5 (v1's kernel, self
    * excluded) and a keyword top-5 (shared-shingle count through an
    * inverted index, stop-shingles with df > 100 dropped on BOTH
    * engines), and the two lists fuse by Σ 1/(60+rank) — rank-only,
    * so the incomparable score scales never meet. Scale shape: the
    * inverted-index join's per-shingle fanout is df-capped (the
    * standard stop-shingle drop — skew-bounded by construction); both
    * rankings end in native partial top-k; fusion is a full outer
    * join of two O(Q·5) frames + an O(Q·10) window. rrf is a sum of
    * two single IEEE divisions in fixed order; ties break to lowest
    * doc id. The vector rank is computed AFTER excluding self (a
    * ≤6-row per-query window over the k=6 result), mirroring the
    * oracle — correct even when a duplicate embedding outranks the
    * query itself. */
  def v63HybridRrf(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val sh = docs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"),
        explode(shingles(col("text"), 3)).as("sg"))
    val keepSg = sh.groupBy("sg").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 100).select("sg")
    val shKept = sh.join(keepSg, "sg")
    val qsh = shKept.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("sg"))
    val overlap = shKept.join(qsh, Seq("sg"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).cast("double").as("n_shared"))
    val textTop = TopK.perGroup(overlap, "query_id", "doc_id", "n_shared",
        k = 5, ascending = false)
      .select(col("query_id"), col("doc_id"),
        col("rnk").cast("long").as("tr"))
    val vecTop = KnnJoin.knnL2(e, queryVecs(e), "vec_id", "embedding",
        "vec_id", k = 6)
      .filter(col("neighbor_id") =!= col("query_id"))
      // rank AFTER the self filter (a ≤6-row window per query), exactly
      // the oracle's construction: correct even if a duplicate
      // embedding outranks the query itself, where a rnk−1 shift would
      // drift. Whether or not self made the top-6, the surviving rows'
      // row_number IS the rank among all non-self gallery vectors.
      .withColumn("vr", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rnk"))).cast("long"))
      .filter(col("vr") <= 5)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("vr"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    vecTop.join(textTop, Seq("query_id", "doc_id"), "full")
      .select(col("query_id"), col("doc_id"),
        (coalesce(lit(1L) / (lit(60L) + col("vr")), lit(0.0))
          + coalesce(lit(1L) / (lit(60L) + col("tr")), lit(0.0)))
          .as("rrf"),
        coalesce(col("vr"), lit(0L)).as("vec_rank"),
        coalesce(col("tr"), lit(0L)).as("text_rank"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select("query_id", "rnk", "doc_id", "rrf", "vec_rank", "text_rank")
  }

  /** Tombstone-aware exact search — the faiss `remove_ids` path: the
    * delete SET (an explicit id list, not a storable predicate — the
    * ops difference from v15's attribute filter) anti-joins the
    * gallery before the distance kernel, so deleted vectors can never
    * surface. At 100 TB the tombstone list is broadcast (deletes are
    * tiny relative to the corpus) or bucket-joined when it isn't; the
    * scan then streams the survivors through v1's codegen'd kernel +
    * native partial top-k. */
  def v62TombstoneSearch(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val tombstones = e.filter(isDead(col("vec_id")))
      .select(col("vec_id"))
    val alive = e.join(tombstones, Seq("vec_id"), "left_anti")
    KnnJoin.knnL2(alive, queryVecs(e), "vec_id", "embedding", "vec_id",
      k = 5)
  }

  /** Recall@3 of the filtered IVF search (v58) vs the filtered EXACT
    * scan (v15's top-3) — the eval that closes the filtered-search
    * loop: filtering shrinks probed lists, so filtered recall is NOT
    * the unfiltered v39 number. Both inputs gated O(Q·k) frames →
    * broadcast join + tiny aggregate; oracle reuses v15's and v58's
    * chains verbatim. */
  def v59FilteredRecall(s: SparkSession, d: String): DataFrame =
    recallRow(v15FilteredKnn(s, d).filter(col("rnk") <= 3),
      v58FilteredIvf(s, d), "recall_at_3", withK = true)

  /** Recall@5 of the SQ8 quantized scan (v17) vs the exact scan — the
    * last missing row of the eval matrix (PQ v36, IVF v39, LSH v20,
    * binary v49, IVFPQ v56): how much neighbor quality the 4× scan
    * compression costs. Both inputs gated O(Q·k) frames → broadcast
    * join + tiny aggregate. */
  def v60Sq8Recall(s: SparkSession, d: String): DataFrame =
    recallRow(v1KnnL2(s, d), v17Sq8Knn(s, d), withK = true)

  /** SQ4 recall — v60's row for the 4-bit quantizer (v82): exact top-5
    * vs the nibble-code ranking. Read the (v60, v83) pair as the
    * measured recall price of halving the code bytes — same broadcast
    * join + tiny aggregate shape as v60. */
  def v83Sq4Recall(s: SparkSession, d: String): DataFrame =
    recallRow(v1KnnL2(s, d), v82Sq4Knn(s, d), withK = true)

  /** Graph-search quality eval — does v57's 3-step greedy walk land
    * inside the exact top-5? The recall row for the graph path
    * (completing the eval matrix: flat v20, PQ v36, IVF v39, binary
    * v49, IVFPQ v56, SQ8 v60, filtered v59). A walk returns ONE node,
    * so the row is per query: the endpoint's exact rank (0 if outside
    * the top-5) and a hit flag. Both inputs gated O(Q·k) frames →
    * broadcast join. The walk side runs v64's persisted-edge shape
    * (spec-proven identical to v57's rebuild), so the eval pays the
    * walk, not a second graph build. */
  def v61GraphRecall(s: SparkSession, d: String): DataFrame = {
    val exact = v1KnnL2(s, d)
      .select(col("query_id"), col("rnk").cast("long").as("exact_rnk"),
        col("neighbor_id"))
    val walk = v64GraphSearchPersisted(s, d)
      .select(col("query_id").as("qa"), col("node_id"))
    walk.join(broadcast(exact),
        col("qa") === col("query_id") &&
          col("node_id") === col("neighbor_id"), "left")
      .select(col("qa").as("query_id"), col("node_id"),
        coalesce(col("exact_rnk"), lit(0L)).as("exact_rank"),
        when(col("exact_rnk").isNotNull, 1L).otherwise(0L).as("in_top5"))
  }

  /** Market-basket pair mining — parts co-ordered in the same order,
    * top-10 by support: the association-rule primitive (the
    * recommendation seed every retail stack computes). Scale shape:
    * the per-order self-join's fanout is bounded by ORDER SIZE (≤7
    * lineitems in TPC-H → ≤21 pairs/order — linear in lineitem, never
    * part-quadratic); pair counts are map-side combined; the top-10 is
    * t5's two-phase salted rank so no single task sorts the whole pair
    * frame. */
  def q36BasketPairs(s: SparkSession, d: String): DataFrame = {
    // r14 optimization (guide §2.4): the r13 shape paid a distinct
    // (exchange) computed TWICE (once per self-join side, the build
    // side broadcast) plus the join itself; one groupBy(orderkey)
    // building the SORTED DISTINCT part array (bounded by order size,
    // ≤7 in TPC-H — map-side combined ObjectHashAggregate) and a
    // codegen'd array-comprehension expansion produce the identical
    // pair multiset with ONE exchange keyed on orderkey: per order,
    // each unordered distinct pair appears exactly once either way
    // (sortedness gives part_a < part_b by construction).
    val pairs = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .select(explode(expr(
        "flatten(transform(parts, (x, i) -> " +
          "transform(slice(parts, i + 2, size(parts)), " +
          "y -> named_struct('part_a', x, 'part_b', y))))")).as("p"))
      .select(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
    val counts = pairs
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_orders"))
    val w1 = Window.partitionBy(col("_salt"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
    val w = Window
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
    counts
      .withColumn("_salt", pmod(hash(col("part_a"), col("part_b")), lit(8)))
      .withColumn("rk1", row_number().over(w1)).filter(col("rk1") <= 10)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 10)
      .select(col("rnk"), col("part_a").cast("long").as("part_a"),
        col("part_b").cast("long").as("part_b"), col("n_orders"))
  }

  /** Count-min sketch under the hard gate — the approximate-count
    * structure every streaming/OLAP stack publishes, made
    * bit-portable: 4 rows × 4096 buckets keyed by the FIRST 3 HEX
    * CHARS of md5(row:token) (no hex→int conversion to disagree on),
    * exact Long cell sums, estimates for the true top-10 tokens with
    * the CMS guarantee est ≥ true (spec-proved). Scale shape: token
    * counts are the only data-sized shuffle (map-side combined); the
    * cell frame is O(4·4096) and broadcasts; the top-10 rank is t5's
    * two-phase salted pattern. */
  def t28CmsEstimate(s: SparkSession, d: String): DataFrame = {
    val counts = docs(s, d)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    def bucket(j: Int) =
      substring(md5(concat(lit(s"$j:"), col("token"))), 1, 3)
    val cells = (0 until 4).map { j =>
      counts.select(lit(j.toLong).as("row_idx"), bucket(j).as("bucket"),
        col("n"))
    }.reduce(_ unionByName _)
      .groupBy("row_idx", "bucket").agg(sum("n").cast("long").as("cell_n"))
    val w1 = Window.partitionBy(col("_salt"))
      .orderBy(col("n").desc, col("token"))
    val w = Window.orderBy(col("n").desc, col("token"))
    val top = counts
      .withColumn("_salt", pmod(hash(col("token")), lit(8)))
      .withColumn("rk1", row_number().over(w1)).filter(col("rk1") <= 10)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 10)
      .select("token", "n", "rnk")
    (0 until 4).map { j =>
      top.select(col("token"), col("n"), col("rnk"),
        lit(j.toLong).as("row_idx"), bucket(j).as("bucket"))
    }.reduce(_ unionByName _)
      .join(cells, Seq("row_idx", "bucket"))
      .groupBy("token", "n", "rnk")
      .agg(min("cell_n").as("est_n"))
      .select(col("token"), col("rnk"), col("n").as("true_n"),
        col("est_n"))
  }

  /** Incremental near-dup admission — d9's persisted-store shape for
    * the NEAR-dup gate: the seen corpus's guarded band index persists
    * ONCE (BucketedStore, bucketed+sorted by band_hash → the batch
    * probe is a sort-merge join with zero index-side exchange), and
    * each arriving batch (doc_id % 4 = 0, the d9/v27 split) pays only
    * its own banding plus exact-Jaccard verifies on banded candidates.
    * This is the 100 TB/day near-dup ingest path; d2 is its full-
    * corpus batch twin. */
  def d23IncrementalNeardup(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val base = all.filter(col("doc_id") % 4 =!= 0)
    val batch = all.filter(col("doc_id") % 4 === 0)
    // fingerprint suffix: regenerated documents.parquet ⇒ fresh index
    val table = Store.name("graft_band_idx", d, "documents.parquet")
    val seenBands = BucketedStore.ensure(s, table,
      Dedup.bandIndex(base, "doc_id", "text"), "band_hash",
      numBuckets = 32)
    Dedup.incrementalNearDup(batch, "doc_id", "text", seenBands, base)
  }

  /** Session-level conversion — the share of sessions containing a
    * purchase, by day of session start: e5's funnel says which USERS
    * convert ever; this says which VISITS convert (the number an
    * on-call dashboard alerts on). Same per-user session windows as
    * e2; the purchase flag rides the session rollup as a max; the
    * daily frame is a map-side combined O(days) aggregate with ONE
    * IEEE division per row. */
  def e31SessionConversion(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    eventsUs(s, d)
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull || col("us") - col("prev") > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min("us").as("s_us"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
      .groupBy((floorDiv("s_us", 86400000000L) * 86400).as("day_epoch"))
      .agg(count(lit(1)).as("n_sessions"),
        sum("converted").cast("long").as("n_converted"))
      .withColumn("conversion_rate",
        col("n_converted") / col("n_sessions"))
  }

  /** Growth accounting — the weekly user-lifecycle ledger every
    * analytics stack publishes: actives split into new / retained /
    * resurrected, plus churned (last week's actives who didn't come
    * back; defined when a prior calendar week exists, 0 otherwise —
    * oracle-mirrored). e6's cohort matrix says WHO returns; this says
    * how the topline decomposes. Scale shape: ONE distinct (user,
    * week) frame; the lag window is per-user (parallel); the weekly
    * rollup is map-side combined; the churn lag orders only the
    * O(weeks) calendar frame. */
  def e29Lifecycle(s: SparkSession, d: String): DataFrame = {
    val wkFrame = eventsUs(s, d)
      .select(col("user_id"), floorDiv("us", 604800000000L).as("wk"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("wk")
    val weekly = wkFrame.withColumn("prev", lag(col("wk"), 1).over(w))
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("prev").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("wk") - col("prev") === 1L, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("prev").isNotNull && col("wk") - col("prev") > 1L, 1L)
          .otherwise(0L)).as("n_resurrected"))
    val wAll = Window.orderBy("wk") // O(weeks) calendar frame
    weekly
      .withColumn("prev_wk", lag(col("wk"), 1).over(wAll))
      .withColumn("prev_active", lag(col("n_active"), 1).over(wAll))
      .select((col("wk") * 604800).as("week_epoch"),
        col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"),
        when(col("prev_wk") === col("wk") - 1,
          col("prev_active") - col("n_retained"))
          .otherwise(lit(0L)).as("n_churned"))
  }

  /** Year-over-year revenue growth per customer nation — the trend
    * companion to q5's snapshot (and e25's WoW recipe on the
    * relational side). Cents stay exact Longs through the growth
    * subtraction; ONE IEEE division per output row for each of
    * revenue and growth. The lag window orders only the O(nations ×
    * years) frame. */
  def q35NationYoy(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"),
      col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderdate"))
    val c = Tables.customer(s, d).select(col("c_custkey"),
      col("c_nationkey"))
    val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
    val base = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        year(col("o_orderdate")).cast("long").as("year"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")),
        10000).as("rev_c"))
    val w = Window.partitionBy("n_name").orderBy("year")
    base.withColumn("prev_c", lag(col("rev_c"), 1).over(w))
      .select(col("n_name"), col("year"),
        (col("rev_c") / lit(10000.0)).as("revenue"),
        when(col("prev_c").isNotNull,
          (col("rev_c") - col("prev_c")).cast("double") / col("prev_c"))
          .otherwise(lit(0.0)).as("yoy_growth"))
  }

  /** Greedy graph-descent search — the HNSW layer-0 / NSW search
    * primitive over the v28 KNN graph: start every query at the entry
    * node (min id), and for 3 steps move to the closest of {current} ∪
    * neighbors(current). Including the current node makes the descent
    * MONOTONE (distance never increases — the spec proves it), and a
    * stalled walk is the greedy fixed point, exactly HNSW's stop rule.
    * It is [[GraphIndex.walk]] at ef = 1. Scale shape: each step joins
    * an O(Q·(k+1)) candidate frame to the vector store BY ID — a query
    * batch costs O(steps·Q·k) distance evals total, independent of N,
    * which is WHY graph search beats scanning at 100 TB. The edge list
    * is localCheckpointed (computed once, referenced per step); the
    * entry scalar is a 1-row crossjoin (q20 class). */
  def v57GraphSearch(s: SparkSession, d: String): DataFrame = {
    val (vec, q) = graphInputs(s, d)
    val edges = GraphIndex.knnGraph(bucketedVecs(s, d))
      .select(col("src_id"), col("dst_id")).localCheckpoint(false)
    greedyRows(GraphIndex.walk(entryFrontier(q, vec), q, vec, edges, ef = 1))
  }

  /** The graph family's inputs: the quantized vectors (id, qv) and the
    * query set, every 100th vector, as (query_id, query_v). */
  private def graphInputs(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val vec = bucketedVecs(s, d).select(col("id"), col("qv"))
    (vec, vec.filter(col("id") % 100 === 0)
      .select(col("id").as("query_id"), col("qv").as("query_v")))
  }

  /** Every query starts at the min id of `vecs`: (query_id, nid). */
  private def entryFrontier(q: DataFrame, vecs: DataFrame): DataFrame =
    q.select(col("query_id")).crossJoin(vecs.agg(min("id").as("nid")))

  /** A greedy walk's winner as the v57-family row. */
  private def greedyRows(ranked: DataFrame): DataFrame =
    ranked.select(col("query_id"), col("nid").as("node_id"),
      distFromIntSq(col("d2")).as("dist"))

  /** A beam's final frontier as the v79-family row. */
  private def beamRows(ranked: DataFrame): DataFrame =
    ranked.select(col("query_id"), col("rnk"), col("nid").as("node_id"),
      distFromIntSq(col("d2")).as("dist"))

  /** Store names of the persisted layer edge lists, by level. */
  private val layerStores =
    Seq("graft_knn_edges", "graft_coarse_edges", "graft_coarse2_edges")

  /** v28's bucket-blocked KNN edge list over hierarchy level `level`
    * ([[GraphIndex.layer]]: hash % 5^level = 0), served from the
    * bucketed store — the build-once accessor for every graph-family
    * key that CONSUMES a graph rather than gating its construction (v52
    * degree, v54 purity, v30 components, the walks and their recall
    * rows). The first caller in a session pays the O(|layer|·k) build;
    * every other key reads the bucketed (src_id-sorted) table with zero
    * build cost — the amortization a deployment actually gets, since an
    * index is built per data snapshot, not per query
    * (faiss_utils.py:11-17). The build shrinks geometrically per level,
    * which is why a log-depth hierarchy is affordable at 100 TB. The
    * source fingerprint in the table name means regenerated data mints
    * a fresh edge list. v28/v29/v57 keep their explicit rebuild shape:
    * they gate the BUILD semantics themselves. */
  private def persistedLayerEdges(s: SparkSession, d: String,
                                  level: Int): DataFrame =
    BucketedStore.ensure(s, Store.name(layerStores(level), d),
      GraphIndex.knnGraph(GraphIndex.layer(bucketedVecs(s, d), level))
        .select(col("src_id"), col("dst_id")),
      "src_id", numBuckets = 32)

  /** v57's greedy walk served from a PERSISTED edge list — the gated
    * deployment shape (persist once, search many — the d9/d23 recipe
    * applied to the graph family): v28's bucket-blocked KNN graph is
    * built ONCE into the bucketed store (bucketed+sorted by src_id,
    * with a source-data fingerprint in the table name so regenerated
    * data mints a fresh index), and every query batch pays only the
    * O(steps·Q·k) walk. Each step broadcasts the O(Q)-row frontier
    * against the streaming edge scan — zero index-side exchange, and
    * the O(N·k) build cost is amortized across batches instead of
    * charged per query (the faiss persist-once contract,
    * faiss_utils.py:11-17). Identical math to v57, so the oracle is
    * v57's walk verbatim — the gate checks that persistence round-trips
    * the graph bit-exactly. */
  def v64GraphSearchPersisted(s: SparkSession, d: String): DataFrame = {
    val (vec, q) = graphInputs(s, d)
    greedyRows(GraphIndex.walk(entryFrontier(q, vec), q, vec,
      persistedLayerEdges(s, d, 0), ef = 1))
  }

  /** BEAM graph search (ef=4) over the persisted KNN graph — the HNSW
    * ef-search shape (Malkov & Yashunin '16) that v57's greedy width-1
    * walk approximates: each step expands the WHOLE frontier (current
    * ef nodes ∪ all their neighbors), dedups, and keeps the ef best by
    * (d2, id). The frontier's own members stay in the candidate set,
    * so the best-so-far distance is monotone non-increasing like v57 —
    * but ef·k candidates per step escape the local minima the greedy
    * walk stalls in (v81 gates the measured recall gain at equal
    * steps). Served from the persisted edge store (v64's shape): zero
    * build cost per batch; each step broadcasts the O(Q·ef) frontier
    * against the streaming bucketed edge scan, the candidate dedup and
    * top-ef are O(Q·ef·k) frames, and the vector fetches join BY ID —
    * a query batch costs O(steps·Q·ef·k) distance evals, independent
    * of N. Output: the final ranked frontier (the top-ef the serving
    * layer would re-rank or return). */
  def v79BeamSearch(s: SparkSession, d: String): DataFrame = {
    val (vec, q) = graphInputs(s, d)
    beamRows(GraphIndex.walk(entryFrontier(q, vec), q, vec,
      persistedLayerEdges(s, d, 0), ef = 4))
  }

  /** 2-layer HNSW-style entry — the hierarchy that keeps graph-search
    * step counts O(log N) at scale (Malkov & Yashunin '16): v79's flat
    * beam starts every query at the GLOBAL min-id node, so at 100 TB
    * the walk either pays more steps or loses recall crossing the
    * graph; here each query first descends a COARSE layer-1 graph
    * (v57's greedy width-1 walk over the portable-hash-sampled subset,
    * entry = the subset's min id) and the layer-1 winner seeds v79's
    * layer-0 ef=4 beam. Both layers serve from persisted fingerprinted
    * edge stores (zero build per batch); the added cost is 3 greedy
    * steps of O(Q·(k+1)) subset distance evals — cheap next to the
    * beam's O(steps·Q·ef·k), and at scale it replaces the beam steps a
    * flat entry wastes traversing from an arbitrary corner. Oracle =
    * the coarse-walk CTEs + the SHARED beam-loop CTEs seeded by the
    * walk winner; spec proves the winner lies in the sampled layer and
    * the frontier's recall reads next to v79's. */
  def v88HnswEntry(s: SparkSession, d: String): DataFrame =
    hnswServe(s, d, Seq(persistedLayerEdges(s, d, 0),
      persistedLayerEdges(s, d, 1)))

  /** The hierarchical serve of v88/v103/v118/v122 over CALLER-SUPPLIED
    * edge lists, `layerEdges(l)` the graph of level l (layer 0 first),
    * so the hierarchy's serving semantics cannot drift between the
    * build paths or depths: entry = the top layer's min (alive) id,
    * greedy width-1 descents down the upper layers, then v79's ef=4
    * beam at layer 0 ([[GraphIndex.layeredWalk]]). With `tombs`, every
    * layer walks the delete set (v108's one-hop bypass) over its alive
    * vectors; the alive frame is one corpus-sized anti-join per query
    * batch, checkpointed and amortized across every step. */
  private def hnswServe(s: SparkSession, d: String,
                        layerEdges: Seq[DataFrame],
                        tombs: Option[DataFrame] = None): DataFrame = {
    val (vec, q) = graphInputs(s, d)
    val alive =
      tombs.fold(vec)(t => withoutDead(vec, t).localCheckpoint(false))
    val layers = layerEdges.indices
      .map(l => (GraphIndex.layer(alive, l), layerEdges(l))).reverse
    beamRows(GraphIndex.layeredWalk(entryFrontier(q, layers.head._1), q,
      layers, ef = 4, tombs))
  }

  /** The three persisted edge stores of the multi-layer hierarchy
    * (L0 = full corpus, L1 = hash % 5, L2 = hash % 25) — exposed to
    * the spec so the driver-side walk simulation reads the exact
    * graphs v122 serves from. */
  private[graft] def multilayerEdges(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) =
    (persistedLayerEdges(s, d, 0), persistedLayerEdges(s, d, 1),
      persistedLayerEdges(s, d, 2))

  /** MULTI-LAYER HNSW — v88's 2-layer entry extended to the geometric
    * hierarchy proper (Malkov & Yashunin '16: ~log N levels, each a
    * 1/p sample of the one below): level membership is the
    * DETERMINISTIC hash-based assignment level(id) ≥ ℓ ⇔
    * portableHash(id) % 5^ℓ = 0 — the seeded-literal discipline's
    * stand-in for HNSW's exponential level draw, with the NESTING
    * property (hash % 25 = 0 ⇒ hash % 5 = 0) that makes every layer's
    * winner a valid seed for the layer below. The walk: entry = the
    * TOP layer's min id, width-1 greedy descent through L2 then L1
    * (each winner seeding the next layer), then v79's ef=4 beam at
    * layer 0 — the SHARED [[hnswServe]]. All three layers serve from
    * persisted fingerprinted edge stores — zero build per batch; the
    * added cost over v88 is 3 greedy steps of O(Q·(k+1)) distance
    * evals on a 1/25th-size layer, and at scale each extra level
    * replaces the linear traversal a too-shallow hierarchy pays
    * crossing a level that is still too big. Walk state is
    * checkpointed BETWEEN layers (each descent step references its
    * state twice; 9 steps would otherwise stack 2^9 plan copies).
    * Oracle = the L2+L1 walk CTEs + the SHARED beam CTEs; spec replays
    * all nine steps driver-side and proves the nesting/membership
    * invariants. */
  def v122HnswMultilayer(s: SparkSession, d: String): DataFrame = {
    val (edges0, edges1, edges2) = multilayerEdges(s, d)
    hnswServe(s, d, Seq(edges0, edges1, edges2))
  }

  /** Multi-layer HNSW quality — v94's recall convention for v122, so
    * the (v81, v94, v127) triple reads as what each added level buys
    * at equal layer-0 beam steps. Both inputs gated O(Q·k) frames →
    * broadcast join + tiny aggregate. */
  def v127HnswmlRecall(s: SparkSession, d: String): DataFrame =
    beamRecallOf(s, d, v122HnswMultilayer(s, d))

  /** Beam-search quality eval — v61's recall row for v79: per query,
    * the beam's rank-1 endpoint against the exact top-5 (node, exact
    * rank, hit flag) PLUS how many of the final ef-frontier nodes land
    * in the exact top-5. Read next to v61 at equal steps: the delta is
    * what the ef=4 frontier buys over the greedy walk (the spec
    * asserts beam recall ≥ greedy recall — beam candidates are a
    * superset at every step). Both inputs gated O(Q·k) frames →
    * broadcast join + tiny aggregate. */
  def v81BeamRecall(s: SparkSession, d: String): DataFrame =
    beamRecallOf(s, d, v79BeamSearch(s, d))

  /** HNSW-entry quality — v81's recall row for v88, so the hierarchy's
    * value is a MEASURED gated row next to the flat-entry beam's: the
    * (v81, v94) pair reads as what the coarse-layer descent buys at
    * equal layer-0 beam steps (the spec already proves ≥; this makes
    * the magnitude a number in the eval matrix). Both inputs gated
    * O(Q·k) frames → broadcast join + tiny aggregate; oracle = the
    * shared recall tail over the hierarchical-walk CTEs. */
  def v94HnswRecall(s: SparkSession, d: String): DataFrame =
    beamRecallOf(s, d, v88HnswEntry(s, d))

  /** Tombstone-aware BEAM serving — faiss `remove_ids`
    * (faiss_utils.py:11-17's persisted index under ops) applied to
    * the GRAPH family, the one family where a delete batch broke
    * serving until now: v62/v106 gate deletes for the flat/quantized
    * stores, but v79/v88's walks would happily route a query THROUGH
    * — and return — a deleted node. Semantics: dead nodes are
    * excluded from scored frontiers and from results, but their edges
    * stay TRAVERSABLE-AROUND — a dead neighbor contributes its own
    * neighbors to the candidate set instead of itself (one-hop
    * bypass), so the walk neither surfaces nor strands on tombstones
    * even where deletes cut the alive graph locally. The entry is the
    * min ALIVE id (the fixture's global min id 0 IS dead — vec_id %
    * 7 — so the gate exercises the bypass from step 0).
    *
    * Plan shape per step ([[GraphIndex.expand]]): the O(Q·ef) frontier
    * broadcasts against the streaming persisted edge store (v79's
    * contract); dead-neighbor detection inner-joins the tombstone scan
    * with the BROADCAST O(Q·ef·k) neighbor frame — never the reverse:
    * the delete set is data-sized and must not be broadcast (v106's
    * bound argument does not apply to an uncompacted graph store); the
    * bypass re-reads the edge store for the O(dead-neighbor) rows only;
    * scoring joins candidates to the ALIVE vector frame by id, so dead
    * candidates drop out with no anti-join in the per-step path. The
    * alive frame is ONE corpus-sized anti-join per query batch,
    * checkpointed and amortized across all steps (a deployment
    * persists it as the compacted store); everything else is
    * O(Q·ef·k) frames, independent of N. */
  def v108GraphTombstoneSearch(s: SparkSession, d: String): DataFrame = {
    val (vec, q) = graphInputs(s, d)
    val tombs = deadIds(s, d)
    val aliveVec = withoutDead(vec, tombs).localCheckpoint(false)
    beamRows(GraphIndex.walk(entryFrontier(q, aliveVec), q, aliveVec,
      persistedLayerEdges(s, d, 0), ef = 4, Some(tombs)))
  }

  /** The COMPACTED edge list — the graph family's reclaim step
    * (v95's economics applied to the KNN graph): dead nodes' rows
    * drop, edges INTO dead nodes are repaired by re-cutting ONLY the
    * affected sources' top-3 among their alive bucket mates (v80's
    * localized bucket-blocked repair — O(affected·bucket), never the
    * O(N·bucket) rebuild), and untouched alive→alive rows copy
    * through. An unaffected source's original top-3 is all-alive, and
    * deleting non-members of a top-3 cannot change it, so compacted ≡
    * REBUILT-FROM-THE-ALIVE-CORPUS row-for-row (spec-proven against
    * [[aliveRebuiltEdges]]). Exposed to the spec. */
  private[graft] def compactedGraphEdges(s: SparkSession, d: String)
      : DataFrame = {
    val v = bucketedVecs(s, d)
    val tombs = deadIds(s, d)
    val alive = withoutDead(v, tombs).localCheckpoint(false)
    val edges = persistedLayerEdges(s, d, 0)
    // sources that LOST an edge: alive src with a dead dst
    val affected = edges
      .join(tombs, edges("dst_id") === tombs("dead_id"), "left_semi")
      .select(col("src_id")).distinct()
      .join(tombs, col("src_id") === col("dead_id"), "left_anti")
      .localCheckpoint(false)
    // untouched alive→alive rows of unaffected sources copy through
    val keep = edges
      .join(tombs, edges("src_id") === tombs("dead_id"), "left_anti")
      .join(tombs, edges("dst_id") === tombs("dead_id"), "left_anti")
      .join(affected, Seq("src_id"), "left_anti")
      .select(col("src_id"), col("dst_id"))
    // repair: affected × same-bucket ALIVE mates, one top-3 cut
    val afV = alive.join(affected.withColumnRenamed("src_id", "id"),
      Seq("id"))
    val repaired = TopK.perGroup(GraphIndex.bucketPairs(afV, alive),
        "src_id", "dst_id", "d2", k = GraphIndex.Degree, ascending = true)
      .select(col("src_id"), col("dst_id"))
    keep.unionByName(repaired)
  }

  /** The spec's rebuild reference for v119: the KNN graph built from
    * scratch on the ALIVE corpus (what compaction must equal). */
  private[graft] def aliveRebuiltEdges(s: SparkSession, d: String)
      : DataFrame = {
    GraphIndex.knnGraph(withoutDead(bucketedVecs(s, d), deadIds(s, d)))
  }

  /** GRAPH compaction + serve — the graph family's RECLAIM step
    * (v95's contract: the eventual answer to tombstone mass that
    * v108/v118's bypass serving only defers): the compacted edge list
    * (dead rows dropped, affected sources' top-3 re-cut among alive
    * bucket mates — [[compactedGraphEdges]], O(affected·bucket) work)
    * persists into a fresh fingerprinted bucketed store, and v79's
    * PLAIN beam serves from it — no tombstone logic at serve time,
    * because the store is clean again (that asymmetry IS the point of
    * compaction: pay O(affected) once, drop the per-query bypass
    * joins forever). Compacted ≡ rebuilt-from-alive row-for-row, so
    * the oracle is the beam-walk SQL over the ALIVE-built graph
    * (entry = min alive id; queries stay the full gallery's % 100
    * set — deleted vectors may still arrive as queries). */
  def v119GraphCompaction(s: SparkSession, d: String): DataFrame = {
    val edges = BucketedStore.ensure(s,
      Store.name("graft_knn_edges_cpt", d),
      compactedGraphEdges(s, d), "src_id", numBuckets = 32)
    val (vec, q) = graphInputs(s, d)
    val entry = entryFrontier(q, withoutDead(vec, deadIds(s, d)))
    beamRows(GraphIndex.walk(entry, q, vec, edges, ef = 4))
  }

  /** Tombstone-aware 2-LAYER serving — v108's delete semantics on
    * v88's hierarchical entry: v88's [[hnswServe]] with the delete set,
    * so BOTH layers walk it. The coarse greedy descent excludes dead
    * nodes from its width-1 state but bypasses through their edges
    * (entry = the sampled layer's min ALIVE id — the fixture's sampled
    * min IS reachable only past dead checks), and the layer-1 winner
    * seeds the layer-0 tombstone beam. A delete batch can therefore
    * neither surface a dead node at either layer nor strand the descent
    * where deletes cut the coarse graph. Plan shape: v88's per-step
    * frames with v108's dead-detection joins — all O(Q·k) broadcast
    * frames against the streaming persisted edge stores; the alive
    * frame is one corpus-sized anti-join per query batch, checkpointed
    * and amortized across all six steps. */
  def v118HierTombstoneSearch(s: SparkSession, d: String): DataFrame =
    hnswServe(s, d, Seq(persistedLayerEdges(s, d, 0),
      persistedLayerEdges(s, d, 1)), Some(deadIds(s, d)))

  /** Maintained-GRAPH retrieval quality — v107's eval convention for
    * v108 (every maintained serving path carries a measured quality
    * row): the tombstone-aware beam's rank-1 endpoint and frontier
    * hits vs the EXACT scan over the same alive corpus (the exact
    * side excludes dead rows too — v107's rule — so the row measures
    * the graph walk under deletes, not the deletes themselves). Read
    * next to v81: the delta is what an UNcompacted delete batch costs
    * the beam at equal steps. Both inputs gated O(Q·k) frames →
    * broadcast join + tiny aggregate. */
  def v113GraphMaintainedRecall(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val exact = KnnJoin.knnL2(e.filter(!isDead(col("vec_id"))),
        queryVecs(e), "vec_id", "embedding", "vec_id", k = 5)
      .select(col("query_id").as("qx"),
        col("rnk").cast("long").as("exact_rnk"), col("neighbor_id"))
    beamRecallAgainst(exact, v108GraphTombstoneSearch(s, d))
  }

  /** Both merged edge layers of the hierarchy upsert — exposed to the
    * spec so "merged ≡ rebuilt" is provable row-for-row PER LAYER
    * against [[GraphIndex.knnGraph]] of the full layer corpus. */
  private[graft] def upsertedHierEdges(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val v = bucketedVecs(s, d)
    (upsertedGraphEdges(s, d, v, "knn"),
      upsertedGraphEdges(s, d, GraphIndex.layer(v, 1), "coarse"))
  }

  /** The spec's rebuild reference: both layer graphs built from
    * scratch on the full layer corpora (what the upsert must equal). */
  private[graft] def rebuiltHierEdges(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val v = bucketedVecs(s, d)
    (GraphIndex.knnGraph(v), GraphIndex.knnGraph(GraphIndex.layer(v, 1)))
  }

  /** COARSE-LAYER upsert for the 2-layer hierarchy — v80's localized
    * repair extended to v88's layer-1 graph, then v88's walk served
    * from the MERGED stores: because layer-1 membership is the
    * deterministic portable-hash sample (v9's contract), an arriving
    * batch's layer-1 members — and their bucket-blocked repair set —
    * are computable exactly, so BOTH layers ingest incrementally (base
    * top-3 edges from fingerprinted stores with d2, batch × all
    * same-bucket mates, base × batch repair, one top-3 cut per layer)
    * and the hierarchy never rebuilds. Merged ≡ rebuilt on each layer
    * (spec-proven row-for-row), so serving is bit-identical to v88 —
    * oracle = v88's hierarchical-walk SQL VERBATIM. At 100 TB a batch
    * costs O(batch·bucket) edge scoring per layer instead of the
    * O(N·bucket) rebuild, and the layer-1 store is 1/5th of that. */
  def v103HierUpsert(s: SparkSession, d: String): DataFrame = {
    val (l0, l1) = upsertedHierEdges(s, d)
    // the walk re-reads its edge lists every step: checkpoint the
    // merged frames so the 6 steps don't re-run the merge 6 times
    hnswServe(s, d, Seq(
      l0.select(col("src_id"), col("dst_id")).localCheckpoint(false),
      l1.select(col("src_id"), col("dst_id")).localCheckpoint(false)))
  }

  /** The beam-family recall row (v81/v94): the beam's rank-1 endpoint
    * vs the exact top-5 plus how many final-frontier nodes land in the
    * exact top-5 — one definition so the flat- and hierarchical-entry
    * rows cannot drift in eval semantics. */
  private def beamRecallOf(s: SparkSession, d: String,
                           beamOut: DataFrame): DataFrame =
    beamRecallAgainst(v1KnnL2(s, d)
      .select(col("query_id").as("qx"),
        col("rnk").cast("long").as("exact_rnk"), col("neighbor_id")),
      beamOut)

  /** The beam-family recall row against a CALLER-SUPPLIED exact frame
    * (qx, exact_rnk, neighbor_id) — shared by v81/v94 (exact = v1's
    * full-corpus scan) and v113 (exact = the alive-only scan), so the
    * eval arithmetic is one definition. */
  private def beamRecallAgainst(exact: DataFrame,
                                beamOut: DataFrame): DataFrame = {
    val beam = beamOut.localCheckpoint(false)
    val joined = beam.join(broadcast(exact),
      col("query_id") === col("qx") &&
        col("node_id") === col("neighbor_id"), "left")
    val hits = joined.groupBy("query_id")
      .agg(sum(when(col("exact_rnk").isNotNull, 1L).otherwise(0L))
        .as("frontier_hits"))
    joined.filter(col("rnk") === 1)
      .select(col("query_id"), col("node_id"),
        coalesce(col("exact_rnk"), lit(0L)).as("exact_rank"),
        when(col("exact_rnk").isNotNull, 1L).otherwise(0L).as("in_top5"))
      .join(hits, "query_id")
  }

  /** Beam ef tuning curve — recall@5 + distance-eval count at
    * ef ∈ {2, 4, 8} from the persisted graph, the graph family's
    * quality-vs-cost tuning surface (v46 recall × v55 cost gave IVF
    * its nprobe curve; a deployment tunes ef exactly the same way —
    * Malkov & Yashunin '16 §4's ef sweep). Each ef runs v79's 3-step
    * beam verbatim (same persisted edge store, same min-id entry, so
    * v81's point sits ON this curve — the spec proves it); per step
    * the deduped candidate count IS the distance-eval count (every
    * candidate is scored once), summed exactly in Longs. Recall@5 =
    * |final frontier ∩ exact top-5| / (5·Q) — the fraction of the true
    * neighbors an ef-frontier returns. Scale shape: the walks are
    * v79's O(steps·Q·ef·k) frames independent of N; the per-step
    * count is an O(Q·ef·k) aggregate over an already-checkpointed
    * frame; the exact side is the gated v1 chain. Output: one row per
    * ef — counts exact Longs, ONE IEEE division each for the reported
    * recall. */
  def v96EfCurve(s: SparkSession, d: String): DataFrame = {
    val (vec, q) = graphInputs(s, d)
    val edges = persistedLayerEdges(s, d, 0)
    val exact = v1KnnL2(s, d)
      .select(col("query_id").as("qx"), col("neighbor_id"))
      .localCheckpoint(false)
    val nq = q.agg(count(lit(1)).as("nq"))
    // checkpoint the candidate set: it feeds BOTH the score path and
    // the eval count, and contains the twice-referenced frontier
    // (v79's truncation rationale). The per-step deduped COUNT is part
    // of the output (dist_evals), so the distinct stays — semantics,
    // not overhead.
    def expand(frontier: DataFrame): DataFrame =
      GraphIndex.expand(frontier, edges).distinct().localCheckpoint(false)
    // r14 optimization (guide §1.2, verdict #4): the STEP-1 candidate
    // set is IDENTICAL across the three ef walks — the frontier is
    // q × entry BEFORE any ef cut — so it is computed, checkpointed and
    // counted ONCE and only the cut differs per ef. Per-step ranked
    // frames keep their checkpoints where the next step references
    // them twice (the r14 fusion experiment measured checkpoint removal
    // slower — see GraphIndex.walk's note); the final step's ranked
    // frame is read once by the hit join, so its checkpoint is dropped.
    // Actions: 18 → 11 (1 shared step-1 cand + per-ef 2 cands + 1
    // ranked), identical rows out.
    val cand1 = expand(entryFrontier(q, vec))
    val scored1 = GraphIndex.score(cand1, q, vec)
    val n1 = cand1.agg(count(lit(1)).as("n"))
    Seq(2, 4, 8).map { ef =>
      var ranked = TopK.perGroup(scored1, "query_id", "nid", "d2", ef,
        ascending = true).localCheckpoint(false)
      var evals = n1
      for (step <- 2 to 3) {
        val cand = expand(ranked.select(col("query_id"), col("nid")))
        ranked = TopK.perGroup(GraphIndex.score(cand, q, vec), "query_id",
          "nid", "d2", ef, ascending = true)
        if (step < 3) ranked = ranked.localCheckpoint(false)
        evals = evals.unionAll(cand.agg(count(lit(1)).as("n")))
      }
      val hit = ranked.join(broadcast(exact),
          col("query_id") === col("qx") &&
            col("nid") === col("neighbor_id"))
        .agg(count(lit(1)).as("n_hit"))
      val de = evals.agg(sum("n").as("dist_evals"))
      hit.crossJoin(de).crossJoin(broadcast(nq))
        .select(lit(ef.toLong).as("ef"), col("n_hit"),
          (lit(5L) * col("nq")).as("n_total"),
          (col("n_hit") / (lit(5L) * col("nq"))).as("recall"),
          col("dist_evals"))
    }.reduce(_ unionByName _)
  }

  /** FILTERED beam search — the metadata-predicate variant of v79
    * (label % 3 = 0, v15's predicate), completing the filtered-ANN
    * matrix for the graph index (flat v15, IVF v58, recall v59). The
    * production filtered-graph recipe is NAVIGATE-THEN-FILTER:
    * restricting the FRONTIER to matching nodes would fracture the
    * graph's connectivity (most neighbors fail a selective predicate
    * and the walk strands), so the beam walks the UNFILTERED graph
    * exactly as v79 does, every visited candidate set is accumulated,
    * and the predicate + final top-3 rank apply to the visited pool at
    * the end. Costs the same O(steps·Q·ef·k) walk as v79 plus one
    * O(Q·ef·k·steps)-row broadcast join against the label column —
    * still independent of N. Visited pools, frontiers, and the final
    * rank are all bounded frames; each step's candidate set is
    * localCheckpointed so the accumulated plan stays linear in
    * steps. */
  def v85FilteredBeam(s: SparkSession, d: String): DataFrame = {
    val ef = 4
    val (vec, q) = graphInputs(s, d)
    val edges = persistedLayerEdges(s, d, 0)
    var frontier = entryFrontier(q, vec)
    var visited = frontier
    for (step <- 1 to GraphIndex.Steps) {
      // r13 optimization: per-step candidate distinct dropped — the
      // visited pool is distinct'd once at the end anyway, and the
      // frontier cut dedups inside the top-k buffer (perGroupDistinct).
      val cand = GraphIndex.expand(frontier, edges).localCheckpoint(false)
      visited = visited.unionAll(cand)
      // the loop's LAST frontier is never read again (only the visited
      // pool flows on) — checkpointing it was a wasted action. (The r14
      // fusion experiment — dropping the step-1/2 frontier checkpoints
      // too — measured 1.33× slower in solo probes and was reverted;
      // see GraphIndex.walk's note.)
      frontier = TopK.perGroupDistinct(GraphIndex.score(cand, q, vec),
          "query_id", "nid", "d2", ef, ascending = true)
        .select(col("query_id"), col("nid"))
      if (step < GraphIndex.Steps) frontier = frontier.localCheckpoint(false)
    }
    val allowed = emb(s, d).filter(col("label") % 3 === 0)
      .select(col("vec_id").cast("long").as("nid"))
    val pool = visited.distinct().join(allowed, "nid")
    TopK.perGroup(GraphIndex.score(pool, q, vec), "query_id", "nid", "d2",
        k = 3, ascending = true)
      .select(col("query_id"), col("rnk"), col("nid").as("node_id"),
        distFromIntSq(col("d2")).as("dist"))
  }

  /** The MERGED ranked edge list of an incremental graph upsert over
    * `layer` (id % 4 = 0 is the arriving batch, the rest the stored
    * base — v80's split): the base's bucket-blocked top-3 edges are
    * read from a fingerprinted store (built once, WITH d2 so the merge
    * never re-scores base×base), batch sources score against ALL
    * same-bucket mates, base sources repair against same-bucket BATCH
    * mates only, and one top-3 cut merges the three. Because the
    * bucket blocking is deterministic, merged ≡ the graph REBUILT on
    * the whole layer (v80's gate for layer 0; the v103 spec proves it
    * for the coarse layer too). `tag` keys the base store per layer. */
  private def upsertedGraphEdges(s: SparkSession, d: String,
                                 layer: DataFrame, tag: String): DataFrame = {
    val base = layer.filter(col("id") % 4 =!= 0)
    val batch = layer.filter(col("id") % 4 === 0)
    // fingerprint suffix: regenerated embeddings ⇒ fresh edge store
    val table = Store.name(s"graft_${tag}_base_edges", d)
    val stored = BucketedStore.ensure(s, table,
      GraphIndex.knnGraph(base)
        .select(col("src_id"), col("dst_id"), col("d2")),
      "src_id", numBuckets = 32)
    // batch sources against ALL same-bucket mates, plus the localized
    // repair: base sources against same-bucket BATCH mates only —
    // never base × base again
    TopK.perGroup(
      stored.unionByName(GraphIndex.bucketPairs(base, batch))
        .unionByName(GraphIndex.bucketPairs(batch, layer)),
      "src_id", "dst_id", "d2", k = GraphIndex.Degree, ascending = true)
  }

  /** INCREMENTAL graph maintenance — v27's persisted-upsert recipe
    * applied to the KNN graph (the index family where a full rebuild
    * hurts most: the graph build is the O(N·k) cost every other graph
    * key amortizes away). The base corpus's edge list persists ONCE
    * (WITH distances — the repair needs them); an arriving batch
    * (vec_id % 4 = 0, the d9/v27 split) then pays only (a) its OWN
    * bucket-blocked edges against the union corpus and (b) a LOCALIZED
    * repair of base nodes: merge each base node's stored top-3 with
    * its batch bucket-mates and re-rank. This is EXACT, not an
    * approximation: removing non-top-3 base mates cannot change the
    * top-3 of the union, so merged ≡ rebuilt-on-union (the spec proves
    * it; the oracle IS v28's full-corpus SQL). Untouched base nodes
    * flow through unchanged (their stored ≤3 edges re-rank to
    * themselves). At 100 TB: batch work is O(batch · bucket), repair
    * fanout is bucket-bounded, and the base corpus is never
    * re-scanned — the stored edges stream from the bucketed store. */
  def v80GraphUpsert(s: SparkSession, d: String): DataFrame =
    upsertedGraphEdges(s, d, bucketedVecs(s, d), "knn")
      .select(col("src_id"), col("rnk"), col("dst_id"),
        distFromIntSq(col("d2")).as("dist"))

  /** Shard-balance audit — v37's imbalance factor applied to m3's
    * gated shard packing, per source: did the packer actually balance
    * bytes across shards? (imbalance 1.0 = perfectly even; the number
    * that predicts straggler tasks when the shards become training
    * input files). Rolls up m3's O(shards) output map-side to
    * O(sources) rows. sum_sq accumulates in Decimal(38,0) ≡ HUGEINT
    * (shard_bytes² wraps Long past ~3 GB/shard — real at 100 TB), and
    * the imbalance ratio runs in doubles with the oracle's exact
    * operation order: (n·sum_sq)/(total²) each factor cast to double
    * first, so both engines round identically. total_bytes itself is
    * an exact Long to 9.2 EB per source. */
  def m11ShardBalance(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    m3ShardAssign(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_shards"),
        sum("shard_bytes").cast("long").as("total_bytes"),
        min("shard_bytes").cast("long").as("min_bytes"),
        max("shard_bytes").cast("long").as("max_bytes"),
        sum(col("shard_bytes").cast(dec) * col("shard_bytes").cast(dec))
          .as("sum_sq"))
      .select(col("source"), col("n_shards"), col("total_bytes"),
        col("min_bytes"), col("max_bytes"),
        ((col("n_shards").cast("double") * col("sum_sq").cast("double"))
          / (col("total_bytes").cast("double")
            * col("total_bytes").cast("double"))).as("imbalance"))
  }

  /** Per-source dedup yield — the before/after report a curation run
    * publishes: docs and chars entering vs surviving near-dup dedup,
    * where the survivor per cluster is d19's gated keeper rule (max
    * n_chars, ties to min id). Reuses the d6/d7 guarded component
    * chain; the yield rollup is an O(N) join + map-side combined
    * O(sources) aggregate with ONE IEEE division per row. */
  def p7DedupYield(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val labels = persistedDupLabels(s, d)
    val meta = dd.select(col("doc_id").cast("long").as("id"),
      col("source"), col("n_chars").cast("long").as("n_chars"))
    val joined = labels.join(meta, "id")
    val keep = joined.groupBy("cluster_id")
      .agg(max(struct(col("n_chars"), (-col("id")).as("nid"))).as("m"))
      .select((-col("m.nid")).as("id"), lit(1L).as("kept"))
    joined.join(keep, Seq("id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept").isNotNull, 1L).otherwise(0L)).as("n_kept"),
        sum("n_chars").cast("long").as("chars_total"),
        sum(when(col("kept").isNotNull, col("n_chars")).otherwise(0L))
          .cast("long").as("chars_kept"))
      .withColumn("keep_rate", col("n_kept") / col("n_docs"))
  }

  // ---------- deterministic (bit-portable) HyperLogLog ----------

  /** md5-derived HLL register coordinates, exactly mirrored in SQL.
    * bucket = first 3 hex chars (m = 4096 registers, the lgK=12
    * production default); rho = 1 + leading zero BITS of the remaining
    * 116 bits, read off hex characters (each leading '0' char is 4
    * zero bits; the first non-zero char adds 3/2/1/0 more by its high
    * bits — pure string ops both engines evaluate identically, no
    * hex→int conversion to disagree on). rho caps at 35 so the scaled
    * harmonic sum stays an exact Long: 4096 · 2^40 < 2^53. */
  private[graft] def hllBucket(hx: Column): Column = substring(hx, 1, 3)

  private[graft] def hllRho(hx: Column): Column = {
    val rest = substring(hx, 4, 29)
    val stripped = ltrim(rest, "0")
    val zeroHex = lit(29) - length(stripped)
    val c = substring(stripped, 1, 1)
    val extra = when(c === "1", 3)
      .when(c.isin("2", "3"), 2)
      .when(c.isin("4", "5", "6", "7"), 1)
      .otherwise(0)
    least(zeroHex * 4 + extra + 1, lit(35))
  }

  /** Rolls (keys..., m) registers up to (keys..., used_registers,
    * est_distinct). The harmonic sum Σ 2^−M_j accumulates SCALED as
    * Σ 2^(40−M_j) — an exact Long (empty registers contribute 2^40
    * each) — so the only IEEE step is the single estimate division,
    * whose constant factor α·m²·2^40 both engines fold from the same
    * literal arithmetic. Raw HLL estimate by design (no ln-based
    * small-range correction: libm log differs across engines by ulps;
    * the operator contract publishes used_registers so a consumer can
    * apply any correction downstream). */
  private def hllRoll(reg: DataFrame, keys: Seq[String]): DataFrame = {
    val grouped =
      if (keys.isEmpty) reg.groupBy()
      else reg.groupBy(keys.map(col): _*)
    grouped
      .agg(count(lit(1)).as("used_registers"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 40 - m)")).as("s_used"))
      .withColumn("s_total", col("s_used")
        + (lit(4096L) - col("used_registers")) * lit(1099511627776L))
      .withColumn("est_distinct",
        lit(0.7213) / (lit(1.0) + lit(1.079) / lit(4096.0))
          * lit(4096.0) * lit(4096.0) * lit(1099511627776.0)
          / col("s_total").cast("double"))
  }

  /** Per-source vocabulary size, exact vs a DETERMINISTIC HyperLogLog
    * estimate (Flajolet et al. 2007), gated bit-for-bit: the t28 CMS
    * recipe applied to the distinct-count sketch every 100 TB rollup
    * actually uses. The sketch path never dedups — registers are a
    * (source, bucket)-keyed MAX over the raw token stream, map-side
    * combined, duplicate-insensitive and MERGEABLE — while the exact
    * column (t28's true_n pattern) is the eval harness a production
    * run would drop. O(sources · 4096) register rows; one IEEE
    * division per output row. */
  def t30HllVocab(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
    val hx = tok.select(col("source"), md5(col("token")).as("hx"))
    val reg = hx
      .select(col("source"), hllBucket(col("hx")).as("bucket"),
        hllRho(col("hx")).as("rho"))
      .groupBy("source", "bucket").agg(max("rho").as("m"))
    val exact = tok.groupBy("source")
      .agg(countDistinct("token").as("n_exact"))
    exact.join(hllRoll(reg, Seq("source")), "source")
      .select(col("source"), col("n_exact"), col("used_registers"),
        col("est_distinct"))
  }

  /** Daily active users, exact vs deterministic-HLL — plus the merge
    * the sketch exists for: the day = −1 row estimates TOTAL actives
    * by unioning the per-day registers (bucket-keyed max over O(days ·
    * 4096) rows), never rescanning events. That register union is the
    * 100 TB contract — daily register tables persist and any date
    * range rolls up from them — and it is gated here bit-for-bit
    * against an oracle that performs the identical merge. Exact
    * distincts are the eval harness, as in t30. */
  def e32HllDau(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(floorDiv("ts", 86400000000000L).as("day"),
        col("user_id").cast("long").as("user_id"))
    val hx = ev.select(col("day"),
      md5(col("user_id").cast("string")).as("hx"))
    val daily = hx
      .select(col("day"), hllBucket(col("hx")).as("bucket"),
        hllRho(col("hx")).as("rho"))
      .groupBy("day", "bucket").agg(max("rho").as("m"))
    val perDay = ev.groupBy("day")
      .agg(countDistinct("user_id").as("n_exact"))
      .join(hllRoll(daily, Seq("day")), "day")
      .select(col("day"), col("n_exact"), col("used_registers"),
        col("est_distinct"))
    val merged = hllRoll(
      daily.groupBy("bucket").agg(max("m").as("m")), Seq.empty)
    val mergedRow = ev.agg(countDistinct("user_id").as("n_exact"))
      .crossJoin(broadcast(merged))
      .select(lit(-1L).as("day"), col("n_exact"), col("used_registers"),
        col("est_distinct"))
    perDay.unionByName(mergedRow)
  }

  // ---------- gated persisted-index serving (IVF / IVFPQ) ----------

  /** v7's probe search served from the PERSISTED centroid-partitioned
    * index, under the hard gate — v64's persist-once/serve-many
    * contract extended to the IVF family (faiss_utils.py:11-17). The
    * index layout is partitioned by centroid_id, so the nprobe=2 probe
    * reads 2/nlist of the data via partition pruning; `_SUCCESS`
    * validation + the source fingerprint in the path give crash-safe,
    * freshness-safe serving. Identical math to v7 (the oracle IS v7's
    * SQL): the gate checks that the persisted layout round-trips the
    * index bit-exactly. */
  def v66IvfSearchPersisted(s: SparkSession, d: String): DataFrame = {
    val path = Store.name("/tmp/graft_ivfidx", d)
    val e = emb(s, d)
    val cents = seedCentroids(e)
    Store.ensurePath(path) { tmp =>
      IvfIndex.save(
        IvfIndex.assign(e, cents, "vec_id", "embedding", "cid"), tmp)
    }
    IvfIndex.search(IvfIndex.load(s, path), cents, queryVecs(e),
      "vec_id", "embedding", "cid", "vec_id", k = 3, nprobe = 2)
  }

  /** v13's IVFPQ search served from PERSISTED codes (9-byte rows
    * partitioned by coarse centroid), gated — the compressed-index
    * twin of v66: at 100 TB the codes table is ~1/60th the vector
    * bytes and the probe scans 2/nlist of THAT. Oracle = v13's SQL
    * verbatim. */
  def v67IvfpqSearchPersisted(s: SparkSession, d: String): DataFrame = {
    val path = Store.name("/tmp/graft_pqidx", d)
    val g = qembGallery(s, d)
    val book = PqIndex.seededBook(g, "id", "qemb", PqDim, PqM, PqKsub)
    val cents = qembSeedCents(g)
    Store.ensurePath(path) { tmp =>
      seededIvfpqCodes(g, cents, book)
        .write.mode("overwrite").partitionBy("centroid_id").parquet(tmp)
    }
    val codes = Tables.ensureParallelism(s.read.parquet(path), Some(path))
    seededIvfpqServe(codes, cents, book, g)
  }


  /** OPQ-path retrieval quality — recall@5 of the pre-rotated PQ
    * search (v31) vs the exact scan, the last missing row of the
    * per-index-family eval matrix (flat v20, PQ v36, IVF v39, binary
    * v49, IVFPQ v56, filtered v59, SQ8 v60, graph v61). Reads next to
    * v36: the delta between the two rows is what the rotation buys
    * (balanced subspace variance → better codebook fit) at identical
    * code size. Both inputs are gated O(Q·k) frames → broadcast join +
    * tiny aggregate; the oracle reuses v31's rotated-ADC CTEs, and the
    * exact side runs over the ROTATED gallery (a signed permutation is
    * an exact isometry in integer arithmetic — spec-proved at v31 — so
    * the exact ranking is v1's, with identical tie-breaks). */
  def v69OpqRecall(s: SparkSession, d: String): DataFrame =
    recallRow(v1KnnL2(s, d), v31OpqPrerotate(s, d))

  /** Retrain migration matrix — the (seed list → trained list) flow of
    * every gallery vector between the SEEDED coarse quantizer (v6's
    * assignment, what the index serves today) and the TRAINED one
    * (v65's 3-round Lloyd output, what a retrain would ship). The
    * off-diagonal mass is the fraction of the index that must be
    * re-written on rollout — the number that sizes a re-index job and
    * decides staged vs big-bang migration at 100 TB. Scale shape: the
    * trained centroids arrive as the O(nlist·dim) literal (n, Σ) table
    * (collectClassSums — broadcast-sized by contract), so the relabel
    * is MAP-ONLY over the already-assigned seeded frame: one scan, one
    * O(nlist²)-row map-side-combined groupBy, zero joins. */
  def v70AssignDrift(s: SparkSession, d: String): DataFrame = {
    val seed = lloydSeedAssign(emb(s, d))
    var cur = seed
    for (_ <- 1 to 3) cur = lloydRound(cur).localCheckpoint(false)
    val cs = collectClassSums(cur)
    seed.groupBy(col("c").as("seed_cid"),
        graft.plans.GridArgmin.nearestLab(col("qv"), cs,
          DefaultScale.toLong).as("trained_cid"))
      .agg(count(lit(1)).as("n"))
  }

  /** Session path mining — the count of every 3-step event-type
    * sequence occurring INSIDE a session (both hops ≤ 30 min, e2's
    * boundary), the navigation-pattern report behind funnel design
    * (e5 checks one fixed path; this surfaces which paths exist). Per-
    * user lead windows are per-key state (bounded — the thing windows
    * are for); the rollup output is O(|event types|³), corpus-
    * independent, via one map-side-combined groupBy. */
  def e33SessionPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    eventsUs(s, d)
      .withColumn("p2", lead(col("event_type"), 1).over(w))
      .withColumn("us2", lead(col("us"), 1).over(w))
      .withColumn("p3", lead(col("event_type"), 2).over(w))
      .withColumn("us3", lead(col("us"), 2).over(w))
      .filter(col("p3").isNotNull &&
        col("us2") - col("us") <= 1800000000L &&
        col("us3") - col("us2") <= 1800000000L)
      .groupBy(col("event_type").as("p1"), col("p2"), col("p3"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** NOVEL-query KNN — the reference's actual serving path (app.py:
    * 124-168: a NEW image is uploaded, embedded, and searched), which
    * every other gated search approximates with gallery members as
    * queries. The novel query is the exact floor-midpoint of two
    * gallery vectors (deterministic, index-free: floor((a+b)/2) per
    * dim — one IEEE division + floor on exact integers < 2⁵³, bit-
    * identical both engines), so no query can self-hit and rank 1 is
    * a genuine nearest-neighbor retrieval. Same harness as v1: the
    * blocked exact scan of the gallery against the broadcast queries. */
  def v72NovelQueryKnn(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val qa = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").cast("long").as("query_id"),
        quantize(col("embedding")).as("va"))
    val qb = e.filter(col("vec_id") % 100 === 1)
      .select((col("vec_id") - 1).cast("long").as("query_id"),
        quantize(col("embedding")).as("vb"))
    val novel = qa.join(qb, "query_id")
      .select(col("query_id"),
        zip_with(col("va"), col("vb"),
          (a, b) => floor((a + b) / lit(2.0)).cast("long")).as("qv"))
    KnnJoin.knnL2Pre(e.select(col("vec_id"), quantize(col("embedding")).as("qv")),
      novel, "vec_id", "qv", "query_id", k = 5, scale = DefaultScale)
  }

  /** MMR DIVERSIFIED re-ranking (Carbonell & Goldstein, SIGIR'98) —
    * the production answer to "the top-k is five near-copies of the
    * same image": greedily re-pick 5 of the top-10 relevance pool,
    * each step taking the candidate that maximizes marginal relevance.
    * With sim = −d2 and λ = 1/2 the MMR objective is EXACT-INTEGER:
    *   argmax over remaining c of  min_{s∈selected} d2(c,s) − d2(q,c)
    * (ties to smaller id), so both engines agree bit-for-bit — no
    * float similarity to drift. Scale shape: the pool is the v1
    * harness (the blocked exact scan against the broadcast queries,
    * top-10), localCheckpointed at O(Q·10) rows; the four greedy steps
    * are joins/aggs over THAT frame only (O(Q·10·t) work per step),
    * never the gallery — at 100 TB the gallery is scanned exactly
    * once. Selection argmax is a max-struct aggregate (obj, −id), the
    * same rank-free pattern as q32's cheapest-supplier pick. */
  def v73MmrDiversify(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val g = e.select(col("vec_id").cast("long").as("neighbor_id"),
      quantize(col("embedding")).as("gv"))
    val q = queryVecs(e).select(col("vec_id").cast("long").as("query_id"),
      quantize(col("embedding")).as("gv"))
    val pool = KnnJoin.scan(graft.plans.KnnMetric.L2, g, q, "neighbor_id",
        "gv", "query_id", k = 10, identity)
      .select(col("query_id"), col("rnk"),
        col("neighbor_id"), col("score").cast("long").as("d2q"))
      .join(g, "neighbor_id")
      .localCheckpoint(false) // O(Q·10); the greedy loop reads only this
    var sel = pool.filter(col("rnk") === 1)
      .select(col("query_id"), lit(1L).as("pick_rnk"),
        col("neighbor_id").as("sel_id"), col("gv").as("sel_gv"),
        col("d2q").as("sel_d2q"))
    for (t <- 2 to 5) {
      val rem = pool.join(
        sel.select(col("query_id"), col("sel_id").as("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      val obj = rem
        .join(sel.select(col("query_id"), col("sel_gv")), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("d2q"),
          intL2Sq(col("gv"), col("sel_gv")).as("ds"))
        .groupBy("query_id", "neighbor_id")
        .agg(min(col("d2q")).as("d2q"), min(col("ds")).as("minsel"))
      val pick = obj.groupBy("query_id")
        .agg(max(struct((col("minsel") - col("d2q")).as("obj"),
          (-col("neighbor_id")).as("nid"))).as("p"))
        .select(col("query_id"), (-col("p.nid")).as("neighbor_id"),
          lit(t.toLong).as("pick_rnk"))
      sel = sel.unionByName(
        pick.join(pool.select(col("query_id"), col("neighbor_id"),
            col("d2q"), col("gv")), Seq("query_id", "neighbor_id"))
          .select(col("query_id"), col("pick_rnk"),
            col("neighbor_id").as("sel_id"), col("gv").as("sel_gv"),
            col("d2q").as("sel_d2q")))
        .localCheckpoint(false)
    }
    sel.select(col("query_id"), col("pick_rnk").as("rnk"),
      col("sel_id").as("neighbor_id"),
      distFromIntSq(col("sel_d2q").cast("double")).as("dist"))
  }

  /** Per-vector SILHOUETTE against the IVF seed quantizer — the
    * clustering-quality eval read before choosing nlist: a2 = d2 to
    * the OWN (nearest) centroid, b2 = d2 to the runner-up, and the
    * simplified silhouette s = (√b2 − √a2)/√max(a2,b2) ∈ [0,1]
    * (Rousseeuw '87 with the centroid as cluster proxy — the O(N·nlist)
    * form; the O(N²) original is not a 100 TB shape). Near-0 rows sit
    * on a list boundary (they are the vectors nprobe=1 would lose —
    * v39's recall number, explained per vector). MAP-ONLY: centroids
    * are an O(nlist·dim) collected literal (v6's contract), the
    * top-2-of-nlist is one array_sort over the codegen'd integer
    * kernel, no join, no shuffle; a2/b2 are exact Longs and the fixed
    * point scale cancels in s, which is two IEEE sqrts, one subtract,
    * one divide in mirrored order. */
  def v74Silhouette(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cents = seedCentroids(e)
      .select(col("cid").cast("long"), quantize(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    val cands = cents.map { case (cid, cv) =>
      struct(intL2Sq(col("qv"), array(cv.map(lit).toIndexedSeq: _*)).as("d2"),
        lit(cid).as("cid"))
    }
    e.select(col("vec_id").cast("long").as("vec_id"),
        quantize(col("embedding")).as("qv"))
      .withColumn("srt", array_sort(array(cands.toIndexedSeq: _*)))
      .select(col("vec_id"),
        col("srt")(0).getField("cid").as("centroid_id"),
        col("srt")(0).getField("d2").as("a2"),
        col("srt")(1).getField("d2").as("b2"))
      .withColumn("sil",
        (sqrt(col("b2").cast("double")) - sqrt(col("a2").cast("double")))
          / sqrt(greatest(col("a2"), col("b2")).cast("double")))
  }

  /** Image-text PAIR ALIGNMENT audit — the CLIP-style filtering step a
    * multimodal curation run applies to m6's pair manifest: score each
    * (asset, text) pair by the cosine between the asset's decoded
    * features (m2's stub kernel at the mapPartitions decode boundary —
    * where a real image embedding plugs in) and the text embedding
    * folded to the same width (exact stride sums), then flag
    * mismatches by the SIGN of the exact integer dot (no float
    * threshold to flip). Both sides explode to (id, dim) rows,
    * map-side-combine, and meet in ONE (id, dim)-keyed equi join with
    * fanout exactly 1 — never a feature matrix in driver memory; the
    * cosine is one IEEE division over exact Long dot/norms. */
  def m15PairAlignment(s: SparkSession, d: String): DataFrame = {
    val feats = BinaryPipeline.decodeStub(
      BinaryPipeline.toAssets(docs(s, d), "doc_id", "text"), featureDim = 8)
    val qfl = feats.select(col("asset_id").cast("long").as("pair_id"),
        posexplode(quantize(col("features"), 100)).as(Seq("dim", "qx")))
      .select(col("pair_id"), col("dim").cast("long").as("dim"), col("qx"))
    val tbl = emb(s, d)
      .select(col("vec_id").cast("long").as("pair_id"),
        posexplode(quantize(col("embedding"))).as(Seq("i", "x")))
      .groupBy(col("pair_id"), (col("i") % 8).cast("long").as("dim"))
      .agg(sum("x").cast("long").as("tx"))
    qfl.join(tbl, Seq("pair_id", "dim"))
      .groupBy("pair_id")
      .agg(sum(col("qx") * col("tx")).cast("long").as("align_dot"),
        sum(col("qx") * col("qx")).cast("long").as("a2"),
        sum(col("tx") * col("tx")).cast("long").as("b2"))
      .select(col("pair_id"), col("align_dot"),
        (col("align_dot").cast("double")
          / (sqrt(col("a2").cast("double")) * sqrt(col("b2").cast("double"))))
          .as("cos_align"),
        when(col("align_dot") < 0, 1L).otherwise(0L).as("mismatch"))
  }

  /** Per-doc SOURCE AFFINITY — term-frequency cosine between each doc
    * and its own source's aggregate term distribution (the centroid in
    * count space): the in-domain outlier score a curation run reads to
    * find mis-sourced or boilerplate documents (low affinity = the doc
    * does not use its source's vocabulary the way the source does).
    * t29 scores source PAIRS; this scores every DOC against its
    * source. All counts exact; products ride as Decimal(38,0) ≡
    * HUGEINT (a web-scale source's term count crosses Long when
    * squared); the (source, term) join-back has fanout exactly 1 per
    * doc-term (t8's hot-stop-term argument: groupBys are map-side
    * combined, and no term-partitioned window anywhere); ONE IEEE
    * division per doc in mirrored order. */
  def t31SourceAffinity(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val dt = docs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "source", "term").agg(count(lit(1)).as("cd"))
    val st = dt.groupBy("source", "term")
      .agg(sum("cd").cast("long").as("cs"))
    val srcNorm = st.groupBy("source")
      .agg(sum(col("cs").cast(dec) * col("cs").cast(dec)).as("b2"))
    dt.join(st, Seq("source", "term"))
      .groupBy("doc_id", "source")
      .agg(sum(col("cd").cast(dec) * col("cs").cast(dec)).as("num"),
        sum(col("cd").cast(dec) * col("cd").cast(dec)).as("a2"),
        count(lit(1)).as("n_terms"))
      .join(srcNorm, "source")
      .select(col("doc_id"), col("source"), col("n_terms"),
        (col("num").cast("double")
          / (sqrt(col("a2").cast("double")) * sqrt(col("b2").cast("double"))))
          .as("affinity"))
  }

  /** SPLIT-LEAKAGE audit — near-duplicate pairs that CROSS the
    * train/val boundary: the eval-integrity check every split ships
    * with (a val doc whose near-copy sits in train inflates the eval;
    * d8 audits contamination against an EXTERNAL benchmark, this
    * audits the split against ITSELF). Composition of two gated
    * chains: v9's portable mod-hash split labels + d2's guarded
    * MinHash-LSH pair set, met by two plain doc_id equi-joins with NO
    * broadcast hint (the pair set scales with duplicate mass, not a
    * constant — AQE decides; the d16 cross-source precedent applied
    * to splits). Output is the leaking pair list a curation run
    * either re-splits or drops. */
  def p10SplitLeakage(s: SparkSession, d: String): DataFrame = {
    val split = Sampling.hashSplit(
      docs(s, d).select(col("doc_id").cast("long").as("doc_id")), "doc_id")
    val pairs = Dedup.minhashLsh(docs(s, d), "doc_id", "text")
      .select(col("a_id"), col("b_id"), col("jaccard"))
    val withA = split.join(pairs, col("doc_id") === col("a_id"))
      .select(col("a_id"), col("b_id"), col("split").as("a_split"),
        col("jaccard"))
    split.join(withA, col("doc_id") === col("b_id"))
      .filter(col("a_split") =!= col("split"))
      .select(col("a_id"), col("b_id"), col("a_split"),
        col("split").as("b_split"), col("jaccard"))
  }

  /** QUERY-BATCH DEDUP serving — the transparency-gated serving
    * optimization: a production query batch repeats hot vectors (many
    * users, one trending image), so the server scores each DISTINCT
    * vector once and fans results back out to every request id. Here
    * the batch is each gallery query submitted TWICE under distinct
    * request ids, the kernel runs on half the batch (one
    * representative per md5 vector digest — a portable, skew-free
    * join key; never the 64-long array itself), and the fan-out is an
    * O(Q·k) digest-keyed equi join. The ORACLE is the plain v1
    * ranking over the full doubled batch — the gate proves the
    * dedup+rejoin is bit-transparent, the v66≡v7 persisted-serving
    * argument applied to request dedup. */
  def v75QueryDedupServe(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val base = queryVecs(e).select(col("vec_id").cast("long").as("request_id"),
      col("embedding"))
    graft.streaming.StreamingOps.dedupServeBatch(base.unionByName(
      base.select((col("request_id") + 1000000L).as("request_id"),
        col("embedding"))), e)
  }

  /** Cross-doc DUPLICATED-NGRAM MASS — the exact-substring dedup
    * signal (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better") at trigram granularity: per doc, how
    * many of its trigram OCCURRENCES (the multiset — t26 counts only
    * the within-doc distinct collapse) also occur in at least one
    * OTHER document. High dup_mass = boilerplate/template spans a
    * span-level dedup pass would cut before training.
    *
    * Scale shape: occurrence counting is one map-side-combined
    * groupBy(doc_id, gram); document frequency is a second map-side
    * rollup over THOSE grouped rows (never the raw occurrence
    * stream); the join-back is gram-keyed with fanout exactly 1 per
    * (doc, gram) row — a hot boilerplate gram fans to its containing
    * docs, not to occurrence pairs, so there is no quadratic blowup
    * to guard (contrast d2's pair join). No term-partitioned window
    * anywhere (t8's hot-stop-term rule). */
  def d24DupNgramMass(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
      .select(col("doc_id").cast("long").as("doc_id"),
        tokens(coalesce(col("text"), lit(""))).as("toks"))
      .select(col("doc_id"),
        greatest(size(col("toks")) - 2, lit(0)).cast("long").as("n_tri"),
        when(size(col("toks")) >= 3,
          transform(sequence(lit(0), size(col("toks")) - 3),
            i => array_join(slice(col("toks"), i + 1, lit(3)), " ")))
          .otherwise(array().cast("array<string>")).as("grams"))
    val m = base.select(col("doc_id"), explode(col("grams")).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("m"))
    val dfr = m.groupBy("gram").agg(count(lit(1)).as("n_docs"))
    val dup = m.join(dfr, "gram")
      .groupBy("doc_id")
      .agg(sum(when(col("n_docs") >= 2, col("m")).otherwise(0L))
        .cast("long").as("dup_mass"))
    base.select("doc_id", "n_tri")
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tri"),
        coalesce(col("dup_mass"), lit(0L)).as("dup_mass"))
      .withColumn("dup_frac",
        when(col("n_tri") > 0, col("dup_mass") / col("n_tri"))
          .otherwise(lit(0.0)))
  }

  /** RE-SPLIT fix on p10's leakage audit: every val doc with at least
    * one train near-copy moves to train (the standard decontamination
    * action — moving the val member, never the train member, keeps
    * the training set intact and shrinks val by the leaked fraction).
    * Output is the change list a split-manifest writer applies:
    * (doc_id, n_train_dups, old_split, new_split). Pure rollup of
    * p10's O(leaking pairs) frame — one map-side-combined groupBy. */
  def p11Resplit(s: SparkSession, d: String): DataFrame = {
    // localCheckpoint: the leak set is O(leaking pairs) tiny, and both
    // union branches read it — without the cut the whole p10 MinHash
    // chain is re-evaluated per branch (measured: 2× the scans in the
    // plan audit; the v73 pool pattern).
    val leaks = p10SplitLeakage(s, d).localCheckpoint()
    val movedVal = leaks.filter(col("a_split") === "val")
        .select(col("a_id").as("doc_id"))
      .unionByName(leaks.filter(col("b_split") === "val")
        .select(col("b_id").as("doc_id")))
    movedVal.groupBy("doc_id")
      .agg(count(lit(1)).as("n_train_dups"))
      .select(col("doc_id"), col("n_train_dups"),
        lit("val").as("old_split"), lit("train").as("new_split"))
  }

  /** LSH PRECISION CURVE — the measured S-curve the (bands, rows)
    * parameters of the whole MinHash family are tuned against: for
    * each band-collision count b ∈ [1, 4], how many candidate pairs
    * collided in exactly b bands and how many of them VERIFY at
    * Jaccard ≥ 0.5. More colliding bands → higher collision
    * probability under the S-curve 1−(1−j^r)^b → higher precision;
    * reading this table is how an operator picks banding for a new
    * corpus instead of trusting the formula. d20 sweeps the VERIFY
    * threshold; this sweeps the CANDIDATE evidence.
    *
    * Scale shape: d2's guarded band index (over-full buckets dropped
    * before any join), one merge self-join per band bucket, and the
    * pair rollup is a map-side-combined groupBy over O(candidate)
    * rows; verification joins shingle sets only for surviving pairs
    * (candidate-then-verify, d12's contract). The verify predicate is
    * exact-integer cross-multiplication (2·inter ≥ uni). */
  def d25LshPrecision(s: SparkSession, d: String): DataFrame = {
    val bi = Dedup.bandIndex(docs(s, d), "doc_id", "text")
    val pairs = bi.as("x").join(bi.as("y").hint("merge"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_bands"))
    val sh = docs(s, d).select(col("doc_id").cast("long").as("doc_id"),
      shingles(col("text"), 3).as("sh"))
    pairs
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("sha")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("shb")), "b_id")
      .withColumn("inter",
        size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("uni",
        (size(col("sha")) + size(col("shb"))).cast("long") - col("inter"))
      .groupBy("n_bands")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("inter") * lit(2L) >= col("uni"), 1L).otherwise(0L))
          .cast("long").as("n_verified"))
      .withColumn("precision", col("n_verified") / col("n_candidates"))
  }

  /** SELECTIVITY-ROUTED filtered KNN — the per-request plan choice a
    * filtered-ANN serving layer makes (faiss IDSelector vs probe): each
    * query searches only ITS OWN label class; classes SMALLER than the
    * mean class size are brute-force scanned (the filter already
    * shrinks the candidate set below what probing saves), classes
    * LARGER go through the IVF probe (nprobe=2 of the seeded
    * quantizer). The routing predicate is exact-integer cross-
    * multiplication (n_class · n_classes > n_total — never a float
    * selectivity threshold), so both engines route identically and the
    * oracle replays BOTH branches. At 100 TB this is the difference
    * between scanning a 10⁴-row filtered slice and probing a 10¹⁰-row
    * index — per query, decided from an O(classes) statistics frame.
    *
    * Scale shape: the route table is O(classes) and broadcast; the
    * exact branch joins the gallery to broadcast same-class queries
    * (gallery scanned once, map-side filtered); the IVF branch is v7's
    * broadcast probe join with the class equality folded into the join
    * condition; both funnel through the bounded native top-k. */
  def v76SelectivityRoute(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val sizes = e.groupBy(col("label").cast("long").as("lab"))
      .agg(count(lit(1)).as("n_class"))
    val tot = e.agg(count(lit(1)).as("n_total"),
      countDistinct(col("label")).as("n_classes"))
    val route = sizes.crossJoin(broadcast(tot))
      .select(col("lab"),
        when(col("n_class") * col("n_classes") > col("n_total"),
          lit("ivf")).otherwise(lit("exact")).as("route"))
    val qr = queryVecs(e)
      .select(col("vec_id"), col("embedding"),
        col("label").cast("long").as("qlab"))
      .join(broadcast(route), col("qlab") === col("lab")).drop("lab")
    val g = e.select(col("vec_id").cast("long").as("neighbor_id"),
      col("label").cast("long").as("glab"),
      quantize(col("embedding")).as("gv"))
    // exact branch: same-class brute force via broadcast queries.
    val qe = qr.filter(col("route") === "exact")
      .select(col("vec_id").cast("long").as("query_id"), col("qlab"),
        quantize(col("embedding")).as("qv"))
    val hitsE = KnnJoin.rankPairs(
        g.join(broadcast(qe), col("glab") === col("qlab")), k = 5)
      .withColumn("route", lit("exact"))
    // ivf branch: v7's probe shape + the class filter in the join.
    val qi = qr.filter(col("route") === "ivf")
    val probes = KnnJoin.knnL2(seedCentroids(e), qi,
      "cid", "embedding", "vec_id", k = 2)
      .select(col("query_id"), col("neighbor_id").as("pcid"))
    val qiq = qi.select(col("vec_id").cast("long").as("query_id"),
      col("qlab"), quantize(col("embedding")).as("qv"))
    val probeQ = probes.join(qiq, Seq("query_id"))
    val centArr = seedCentroids(e)
      .select(col("cid").cast("long"), quantize(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val gAsn = g.withColumn("centroid_id",
      graft.plans.CentroidKernels.nearestInt(col("gv"),
        centArr.head._2.length, 0, centArr.toSeq).getField("cid"))
    val hitsI = KnnJoin.rankPairs(gAsn.join(broadcast(probeQ),
        gAsn("centroid_id") === probeQ("pcid") &&
          gAsn("glab") === probeQ("qlab")), k = 5)
      .withColumn("route", lit("ivf"))
    hitsE.unionByName(hitsI)
  }

  /** Per-term BURSTINESS (Church & Gale '95 shape): for every term
    * with df ≥ 10, its document frequency, total occurrence count,
    * within-doc max, and burstiness = total_tf/df — the mean count
    * among docs that CONTAIN the term. Uniform-topic terms sit near 1;
    * template/boilerplate terms burst (a nav-bar term appears 40× in
    * every page that has it). Read next to t23's gini: that scores
    * SOURCES, this scores TERMS.
    *
    * Scale shape: d24's stacked map-side-combined groupBys ((doc,
    * term) counts, then term rollup) — no join at all here, no
    * term-partitioned window (t8's hot-stop-term rule), output
    * O(vocab past the df floor). */
  def t32TermBurstiness(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"),
        explode(tokens(coalesce(col("text"), lit("")))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("c").cast("long").as("total_tf"),
        max("c").cast("long").as("max_tf"))
      .filter(col("df") >= 10)
      .withColumn("burstiness", col("total_tf") / col("df"))

  /** INDEX-MERGE serving — two PERSISTED half-indexes (vec_id parity
    * split, each centroid-partitioned, `_SUCCESS`-validated,
    * fingerprinted paths) unioned at serve time and probed by v7's
    * search: the rolling-build/compaction shape (faiss `merge_from`) —
    * a production corpus is indexed in per-snapshot segments and
    * served from their union until compaction rewrites them. The
    * oracle is v7's SQL VERBATIM: the gate proves segment-merge
    * serving is bit-transparent, v66's persisted-serving argument
    * applied to segmented builds. Probe pruning still holds per
    * segment (both sides are centroid-partitioned layouts), so the
    * scan stays 2/nlist of each segment. */
  def v77IndexMergeServe(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cents = seedCentroids(e)
    def half(par: Int): String = {
      val path = Store.name(s"/tmp/graft_ivfidx_h$par", d)
      Store.ensurePath(path) { tmp =>
        IvfIndex.save(IvfIndex.assign(e.filter(col("vec_id") % 2 === par),
          cents, "vec_id", "embedding", "cid"), tmp)
      }
      path
    }
    val merged = IvfIndex.load(s, half(0))
      .unionByName(IvfIndex.load(s, half(1)))
    IvfIndex.search(merged, cents, queryVecs(e),
      "vec_id", "embedding", "cid", "vec_id", k = 3, nprobe = 2)
  }

  /** Per-event-type CADENCE QUANTILES — p50/p90/p99 of the gap between
    * a user's consecutive events of the SAME type, second granularity,
    * clipped at one day: the retry/poll/engagement periodicity report
    * (e14 gives per-user mean/variance; this gives the per-type
    * distribution shape an alerting threshold is read from). The clip
    * is semantic, not defensive: cadence beyond a day is churn (e6's
    * territory), and it HARD-BOUNDS the quantile histogram domain at
    * 86,401 distinct values — corpus-independent by construction.
    *
    * Scale shape: gaps are per-(user, type) windows (per-key state,
    * bounded); the only corpus-sized shuffle is the map-side-combined
    * (type, gap_s) histogram; the cumulative window runs over the
    * clipped distinct-value domain per type (t7's two-phase positional
    * selection), never a per-type row sort; rank positions exact
    * integer ((9n+9) div 10 — no float ceil). */
  def e34GapQuantiles(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("us", "event_id")
    val gaps = eventsUs(s, d)
      .withColumn("prev", lag(col("us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"),
        least(expr("(us - prev) div 1000000"), lit(86400L)).as("gap_s"))
    val hist = gaps.groupBy("event_type", "gap_s")
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("event_type").orderBy("gap_s")
    val wAll = Window.partitionBy("event_type")
    def pick(rank: String) =
      max(when(expr(s"cum - cnt < $rank AND $rank <= cum"), col("gap_s")))
    hist
      .withColumn("cum", sum("cnt").over(wCum).cast("long"))
      .withColumn("n", sum("cnt").over(wAll).cast("long"))
      .groupBy("event_type")
      .agg(max("n").as("n_gaps"),
        pick("(n + 1) div 2").as("p50_s"),
        pick("(9 * n + 9) div 10").as("p90_s"),
        pick("(99 * n + 99) div 100").as("p99_s"))
  }

  /** Per-source DATA CARD — the one-row-per-source summary a mixture
    * designer reads before weighting sources (p2) or sampling quotas
    * (p4): volume (docs/tokens/chars), exact-dup mass (d1's hash
    * criterion), language share (t1's criterion), and quality-pass
    * share (t2's score ≥ 0.5). Every cell is an exact Long count or
    * ONE IEEE division of exact Longs — the per-doc score/ratio
    * doubles are only ever COMPARED to a threshold (deterministic:
    * both engines compute bit-identical doubles, gated at t1/t2),
    * never summed, so no float-accumulation order can drift. One scan,
    * one map-side-combined O(sources) aggregate. */
  def p9SourceDataCard(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        length(col("text")).cast("long").as("nc"),
        md5(col("text")).as("h"),
        stopwordRatio(col("text")).as("sr"),
        qualityScore(col("text")).as("score"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").cast("long").as("n_tokens"),
        sum("nc").cast("long").as("n_chars"),
        countDistinct("h").as("nd"),
        sum(when(col("sr") >= 0.1, 1L).otherwise(0L)).as("n_en"),
        sum(when(col("score") >= 0.5, 1L).otherwise(0L)).as("n_q"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_chars"), (col("n_docs") - col("nd")).as("n_exact_dups"),
        (col("n_en") / col("n_docs")).as("en_share"),
        (col("n_q") / col("n_docs")).as("quality_ok_share"))

  /** Tombstone compaction report — per IVF list, live/dead occupancy
    * under v62's delete set and an exact-integer rewrite flag
    * (8·n_dead > n_total, i.e. > 12.5% dead): the index-maintenance
    * planner behind faiss `remove_ids` at scale, where deletes are
    * tombstones until a list's dead fraction justifies rewriting its
    * partition (v62 serves AROUND tombstones; this decides when to
    * stop paying for them). One map-only literal-argmin assignment
    * (v6's) + one O(nlist) map-side-combined aggregate; the flag
    * cross-multiplies exact Longs — no float threshold a boundary
    * list could flip across engines; ONE IEEE division for the
    * reported fraction. */
  def v71CompactionReport(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    IvfIndex.assign(e, seedCentroids(e), "vec_id", "embedding", "cid")
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(isDead(col("id")), 1L).otherwise(0L)).as("n_dead"))
      .select(col("centroid_id"), col("n_total"),
        (col("n_total") - col("n_dead")).as("n_live"), col("n_dead"),
        (col("n_dead") / col("n_total")).as("dead_frac"),
        when(col("n_dead") * 8 > col("n_total"), 1L).otherwise(0L)
          .as("needs_compaction"))
  }

  /** The fingerprinted path of v95's COMPACTED store — exposed (not
    * re-derived by callers) so the streaming twin's test serves from
    * the exact store v95 builds: a future path-tag bump lands here
    * once instead of silently desynchronizing a duplicated path
    * string (ADVICE r10; the tivfidx→tivfidx2 bump is the precedent). */
  def compactedIvfStorePath(d: String): String = {
    Store.name("/tmp/graft_cmpidx", d)
  }

  /** Compaction EXECUTION — the step after v71's decision and the
    * last ops-lifecycle gap in the persist/serve matrix: v71 flags
    * which IVF partitions owe a rewrite (8·n_dead > n_total under
    * v62's delete set), [[graft.operators.IvfIndex.compact]] rewrites
    * EXACTLY those partitions with tombstones purged into a fresh
    * fingerprinted store (unflagged partitions copied file-for-file —
    * never re-encoded), and v62's exact search serves from the
    * compacted layout. faiss `remove_ids` rewrites the whole index;
    * at 100 TB the rewrite must scale with the flagged fraction, and
    * the serve must still anti-join the tombstone set because
    * unflagged partitions legitimately retain dead rows — that
    * retention IS the economics the v71 threshold encodes. Oracle =
    * v62's tombstone SQL VERBATIM: compaction is bit-transparent (the
    * v66/v86 persistence contract extended to maintenance), proving
    * the rewrite changed where the bytes live and nothing a query can
    * observe. CompactionSpec proves flagged partitions hold zero
    * tombstoned rows and unflagged partition files are bit-identical
    * to the source store's. */
  def v95CompactionExec(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val srcPath = Store.name("/tmp/graft_ivfidx", d)
    Store.ensurePath(srcPath) { tmp =>
      IvfIndex.save(
        IvfIndex.assign(e, seedCentroids(e), "vec_id", "embedding",
          "cid"), tmp)
    }
    val cmpPath = compactedIvfStorePath(d)
    Store.ensurePath(cmpPath) { tmp =>
      IvfIndex.compact(s, srcPath, tmp, isDead(col("id")))
    }
    val tombstones = e.filter(isDead(col("vec_id")))
      .select(col("vec_id"))
    val alive = IvfIndex.load(s, cmpPath)
      .select(col("id").as("vec_id"), col("vec").as("embedding"))
      .join(tombstones, Seq("vec_id"), "left_anti")
    KnnJoin.knnL2(alive, queryVecs(e), "vec_id", "embedding", "vec_id",
      k = 5)
  }

  /** Asset near-dup by FEATURE distance — d5's embedding-near-dup
    * recipe applied to the multimodal decode output: m2's per-asset
    * features (deterministic stride-mean stub — the plug-in point for
    * a real image embedding) are quantized to exact integers
    * (round(f·100)), coarse-grid-blocked (floor(q/1000) per dim — a
    * 10-byte-mean-unit cell), and only same-cell candidates pay the
    * exact integer L2 verify (≤ 5.0 units). Catches re-encoded /
    * lightly-edited assets that m8's exact digest can't. The MEGA-
    * BUCKET GUARD (d2's recipe, oracle-mirrored) drops cells holding
    * > 64 assets BEFORE the self-join — and the cap BINDS at both gate
    * SFs (hottest cell: 65 at sf0.01, 76 at sf0.001), so the gate
    * tests the guard semantics themselves, the d13/d14 precedent. At
    * 100 TB: features are map-only, the cell join shuffles once on the
    * cell key with guard-bounded candidate volume, output is
    * O(verified pairs). */
  def m14AssetNeardup(s: SparkSession, d: String): DataFrame = {
    val guarded = graft.streaming.StreamingOps.cellIndex(
      BinaryPipeline.decodeStub(BinaryPipeline.toAssets(
        docs(s, d), "doc_id", "text"), featureDim = 8))
    guarded.as("x").join(guarded.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.base_id") < col("y.base_id"))
      .select(col("x.base_id").as("a_id"), col("y.base_id").as("b_id"),
        intL2Sq(col("x.qf"), col("y.qf")).as("d2"))
      .filter(col("d2") <= 250000L)
      .select(col("a_id"), col("b_id"), col("d2"),
        (sqrt(col("d2").cast("double")) / lit(100.0)).as("dist"))
  }
}
