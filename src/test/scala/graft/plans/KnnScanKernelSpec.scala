package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.scalatest.funsuite.AnyFunSuite

/** The tiled exact-scan kernel ([[KnnScan.scanPartition]]) against the
  * pair-at-a-time scan it replaced, kept here as the reference: one
  * (row, query) pair at a time, Σ(g − q)² and Σ g·q in wrapping `long`
  * arithmetic, on edge shapes and on both sides of the double path's
  * 2⁵³ bound. */
class KnnScanKernelSpec extends AnyFunSuite {
  private val metrics = Seq(KnnMetric.L2, KnnMetric.Dot, KnnMetric.Cosine)

  /** The scan before tiling, rows in the same (id, vec) layout. */
  private def pairScan(metric: KnnMetric, k: Int, queries: Array[InternalRow],
                       gallery: Iterator[InternalRow]): Seq[(InternalRow, TopKState)] = {
    val live = queries.filter(r => !r.isNullAt(1))
    val states = live.map(_ => new TopKState(k))
    def vec(r: InternalRow) = r.getArray(1).toLongArray()
    val qs = live.map(vec)
    def l2sq(a: Array[Long], b: Array[Long]): Long = {
      var acc = 0L; var j = 0
      while (j < a.length) { val d = a(j) - b(j); acc += d * d; j += 1 }
      acc
    }
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var acc = 0L; var j = 0
      while (j < a.length) { acc += a(j) * b(j); j += 1 }
      acc
    }
    def offer(st: TopKState, key: Double, s: Double, id: Long): Unit =
      if (st.size < st.k || !(key > st.keys(st.k - 1))) st.insert(key, s, id)
    for (r <- gallery if !r.isNullAt(1) && !r.isNullAt(0)) {
      val g = vec(r)
      val id = r.getLong(0)
      for ((q, st) <- qs.zip(states)) metric match {
        case KnnMetric.L2 =>
          val s = l2sq(g, q).toDouble; offer(st, s, s, id)
        case KnnMetric.Dot =>
          val s = dot(g, q).toDouble; offer(st, -s, s, id)
        case KnnMetric.Cosine =>
          val s = dot(g, q).toDouble / math.sqrt(dot(g, g).toDouble * dot(q, q))
          offer(st, -s, s, id)
      }
    }
    live.toSeq.zip(states)
  }

  private def row(id: java.lang.Long, v: Array[Long]): InternalRow =
    new GenericInternalRow(Array[Any](id,
      if (v == null) null else UnsafeArrayData.fromPrimitiveArray(v)))

  /** Per live query: its id and its buffer as (id, score bits), so NaN
    * equals NaN. */
  private def result(scan: Seq[(InternalRow, TopKState)]) = scan.map { case (q, st) =>
    (if (q.isNullAt(0)) None else Some(q.getLong(0)),
      (0 until st.size).map(i =>
        (st.ids(i), java.lang.Double.doubleToLongBits(st.scores(i)))))
  }

  private def tiled(metric: KnnMetric, k: Int, queries: Seq[InternalRow],
                    gallery: Seq[InternalRow]): (Seq[(InternalRow, TopKState)], KnnScan.Counts) = {
    val counts = new KnnScan.Counts
    val out = KnnScan.scanPartition(metric, k, queries.toArray, 0, 1,
      gallery.iterator, 0, 1, counts).toSeq
    (out, counts)
  }

  /** Asserts the tiled scan equals the pair scan on every metric and
    * returns each metric's counts. */
  private def assertSame(k: Int, queries: Seq[InternalRow], gallery: Seq[InternalRow],
                         clue: => String): Seq[KnnScan.Counts] =
    metrics.map { metric =>
      val (got, counts) = tiled(metric, k, queries, gallery)
      val expected = result(pairScan(metric, k, queries.toArray, gallery.iterator))
      assert(result(got) === expected, s"$metric $clue")
      counts
    }

  /** Element magnitudes: a tie-heavy [-3, 3]; the perfbench shape at
    * scale 10⁴; up to the 2⁵³ bound for `dim` and `mq`; just past it;
    * and any `long`, whose squares overflow. */
  private sealed trait Range
  private case object Small extends Range
  private case object Scaled extends Range
  private case object AtBound extends Range
  private case object PastBound extends Range
  private case object Wide extends Range

  private def vectors(rnd: scala.util.Random, n: Int, dim: Int, max: Long,
                      range: Range): Seq[Array[Long]] = {
    val base = Seq.fill(n)(Array.fill(dim)(range match {
      case Small => rnd.nextInt(7) - 3L
      case Wide => rnd.nextLong()
      case _ =>
        // a third of the elements at ±max, the rest below it
        if (rnd.nextInt(3) == 0) (if (rnd.nextBoolean()) max else -max)
        else rnd.nextLong() % (max + 1)
    }))
    // duplicates and a zero vector (a zero norm: NaN cosine)
    val extra = if (n < 2) Nil else Seq(base(0).clone(), Array.fill(dim)(0L))
    rnd.shuffle(base ++ extra)
  }

  test("tiled scan == pair-at-a-time scan: D in {1, 3, 4, 5, 64, 65}, " +
    "Q in {1, 2, 3, 4, 5, 9}, partial tiles and blocks, both arithmetic paths") {
    val rnd = new scala.util.Random(4099)
    val mq = 1L << 20
    for (dim <- Seq(1, 3, 4, 5, 64, 65); nq <- Seq(1, 2, 3, 4, 5, 9);
         range <- Seq(Small, Scaled, AtBound, PastBound, Wide)) {
      val mg = range match {
        case Scaled => 60000L
        case AtBound => (1L << 53) / dim / mq
        case _ => (1L << 53) / dim / mq + 1
      }
      val n = Seq(1, 3, 6, 127, 128, 130, 261)(rnd.nextInt(7))
      val k = Seq(1, 3, 10, 400)(rnd.nextInt(4))
      val qRange = if (range == Scaled) Scaled else if (range == Small) Small else AtBound
      val queries = vectors(rnd, nq, dim, if (range == Scaled) 60000L else mq, qRange)
        .take(nq).zipWithIndex.map { case (v, i) =>
          row(if (i == 1) null else 1000L + i, v) } :+ row(77L, null)
      // ids: tie-heavy (every id twice), one null id, one null vector
      val gallery = vectors(rnd, n, dim, mg, range).zipWithIndex.map { case (v, i) =>
        row(i / 2L, v) } ++ Seq(row(null, Array.fill(dim)(1L)), row(5L, null))
      val rows = rnd.shuffle(gallery)
      val counts = assertSame(k, queries, rows, s"dim=$dim nq=$nq $range n=$n k=$k")
      val scored = rows.count(r => !r.isNullAt(0) && !r.isNullAt(1))
      for (c <- counts) {
        assert(c.pairs === scored.toLong * nq)
        if (range != Wide && range != PastBound) assert(c.longBlocks === 0, s"$range")
      }
    }
  }

  test("the double path is exact at the 2⁵³ bound; a block past it " +
    "is scored in long arithmetic") {
    val dim = 64
    val (mg, mq) = (1L << 27, 1L << 20) // dim · mg · mq = 2⁵³
    assert(KnnScan.exactInDouble(mg, mq, dim))
    assert(!KnnScan.exactInDouble(mg + 1, mq, dim))
    assert(KnnScan.exactInDouble(Long.MaxValue, 0L, dim))
    assert(!KnnScan.exactInDouble(Long.MaxValue, 1L, 1))
    val queries = Seq(row(1L, Array.fill(dim)(mq)), row(2L, Array.fill(dim)(-mq)),
      row(3L, Array.tabulate(dim)(j => if (j % 2 == 0) mq else -mq)))
    // one full block at the bound (dots up to ±2⁵³), then one block past it
    val atBound = (1 until KnnScan.BlockRows).map(i =>
      row(i.toLong, Array.tabulate(dim)(j => if ((i + j) % 3 == 0) -mg else mg))) :+
      row(999L, Array.fill(dim)(mg))
    val past = Seq(row(500L, Array.fill(dim)(mg + 1)), row(501L, Array.fill(dim)(mg)))
    for (c <- assertSame(4, queries, atBound, "at the bound"))
      assert(c.longBlocks === 0)
    for (c <- assertSame(4, queries, atBound ++ past, "past the bound"))
      assert(c.longBlocks === 1)
    // the all-mg row's dot with the all-mq query is 2⁵³ exactly
    val (got, _) = tiled(KnnMetric.Dot, 1, queries.take(1), atBound)
    assert((got.head._2.ids(0), got.head._2.scores(0)) === ((999L, math.pow(2, 53))))
  }

  test("overflowing squares wrap as Σ(g − q)² does, and a zero-norm " +
    "cosine ranks last") {
    val queries = Seq(row(1L, Array(Long.MaxValue, Long.MinValue, 3L)),
      row(2L, Array(0L, 0L, 0L)), row(3L, Array(1L << 32, -(1L << 31), 7L)))
    val gallery = Seq(row(10L, Array(Long.MinValue, Long.MaxValue, -3L)),
      row(11L, Array(0L, 0L, 0L)), row(12L, Array(1L << 40, 1L << 33, -1L)),
      row(13L, Array(1L, 2L, 3L)), row(14L, Array(-(1L << 31), 1L << 31, 0L)))
    for (c <- assertSame(5, queries, gallery, "wide")) assert(c.longBlocks === 1)
    // the zero query scores NaN against every row under cosine
    val (got, _) = tiled(KnnMetric.Cosine, 5, queries.drop(1).take(1), gallery)
    assert(got.head._2.scores.forall(_.isNaN))
    // a zero gallery row is the last of a query's cosine rank
    val (cos, _) = tiled(KnnMetric.Cosine, 5, Seq(row(1L, Array(1L, 1L, 1L))),
      Seq(row(11L, Array(0L, 0L, 0L)), row(13L, Array(1L, 2L, 3L)), row(15L, Array(-1L, 0L, 0L))))
    val st = cos.head._2
    assert(st.ids.take(st.size).toSeq === Seq(13L, 15L, 11L))
    assert(st.scores(2).isNaN)
  }
}
