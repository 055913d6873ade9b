package perfbench

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run: `Main <workload> <seed> <seconds> <trace 0|1>
  * <data dir> <work dir> <result file>`. Sets up a local graft session,
  * runs the workload's closed loop (one client thread) for `seconds`,
  * checks the outputs, and writes every sample, check and span to the
  * result file for run.py to summarise. */
object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, outFile) = args
    val run = new Run(workload, seedS.toLong, secondsS.toDouble, traceS == "1",
      dataDir, Paths.get(workDir))
    val w: Workload = workload match {
      case "knn_exact" => new KnnExact(run)
      case "ann_build_serve" => new AnnBuildServe(run)
      case "dedup_pipeline" => new DedupPipeline(run)
      case "query_mix" => new QueryMix(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    run.setUp(w)
    w.execute()
    run.out("layer") = run.layer
    run.out("spans") = run.tracer.spans.map(spanJson).toSeq
    run.out("trace_t0_epoch_ms") = run.tracer.t0EpochMs
    run.out("host") = Map(
      "nproc" -> Cores, "master" -> run.spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> run.spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "shuffle_partitions" -> run.spark.conf.get("spark.sql.shuffle.partitions"),
      "adaptive" -> run.spark.conf.get("spark.sql.adaptive.enabled"))
    Files.writeString(Paths.get(outFile), Json(run.out.toMap))
    run.spark.stop()
  }

  private def spanJson(s: Span): Map[String, Any] = Map(
    "id" -> s.id, "layer" -> s.layer, "name" -> s.name, "parent" -> s.parent,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs,
    "jobs" -> s.c.jobs, "stages" -> s.c.stages, "tasks" -> s.c.tasks,
    "shuffle_read_bytes" -> s.c.shuffleReadBytes,
    "shuffle_write_bytes" -> s.c.shuffleWriteBytes,
    "spill_bytes" -> s.c.spillBytes, "exchanges" -> s.c.exchanges,
    "task_busy_s" -> s.c.taskBusyMs / 1e3, "gc_s" -> s.c.gcMs / 1e3,
    "job_intervals_ms" -> s.c.jobIntervals.map { case (a, b) => Seq(a, b) }.toSeq,
    "plan_ms" -> s.c.planMs,
    "files_read" -> s.c.filesRead, "rows_scanned" -> s.c.rowsScanned)
}

/** State shared by the workloads of one run. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
                val trace: Boolean, val dataDir: String, val work: Path) {
  var spark: SparkSession = _
  var tracer: Tracer = _
  val out = mutable.LinkedHashMap.empty[String, Any]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val latencies = mutable.ArrayBuffer.empty[Double]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val born = System.nanoTime()
  val phases = mutable.LinkedHashMap.empty[String, Double]

  /** Note the end of a run phase (seconds since this JVM started the run). */
  def mark(phase: String): Unit = {
    phases(phase) = (System.nanoTime() - born) / 1e9
    System.err.println(f"[perfbench] $phase%s done at ${phases(phase)}%.1f s")
  }

  /** Set-up as a user pays it: start the session and load the
    * workload's inputs. Repeated SetupRounds times (all but the last
    * session stopped) so setup_s is a median, not one cold sample. */
  def setUp(w: Workload): Unit = {
    val samples = mutable.ArrayBuffer.empty[Double]
    val starts = mutable.ArrayBuffer.empty[Double]
    for (round <- 1 to Main.SetupRounds) {
      val t0 = System.nanoTime()
      spark = GraftSession.local(Main.Cores)
      val t1 = System.nanoTime()
      spark.sparkContext.setLogLevel("ERROR")
      tracer = new Tracer(spark, trace && round == Main.SetupRounds)
      tracer.record("session", "session.start", t0, t1)
      w.load()
      samples += (System.nanoTime() - t0) / 1e9
      starts += (t1 - t0) / 1e9
      if (round < Main.SetupRounds) { w.unload(); spark.stop() }
    }
    mark("setup")
    out("setup_s_samples") = samples.toSeq
    layer("session.start_s") = Stats.median(starts.toSeq)
  }

  /** Span `name`; its layer is the name's first dotted component. */
  def span[T](name: String)(body: => T): T =
    tracer.span(name.takeWhile(_ != '.'), name)(body)

  /** One timed request of the closed loop; returns its seconds, which
    * join the latency samples when `sample`. An exception is a failed
    * operation: it is counted and printed, never swallowed. */
  def request(name: String, sample: Boolean = true)(body: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      span(s"bench.$name")(body)
      val s = (System.nanoTime() - t0) / 1e9
      if (sample) latencies += s
      Some(s)
    } catch { case NonFatal(e) => fail(name, e, attempt = false); None }
  }

  /** Count a failed operation (`attempt`: not already counted as
    * attempted) and print its error. */
  def fail(what: String, e: Throwable, attempt: Boolean = true): Unit = {
    if (attempt) attempted += 1
    failed += 1
    errors += s"$what: $e"
    System.err.println(s"[perfbench] $what failed: $e")
    e.printStackTrace()
  }

  /** Record a correctness check; a false check is a failed operation. */
  def check(name: String, ok: Boolean, detail: String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; errors += s"check $name: $detail" }
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  /** Run the closed loop: `next(i)` issues request i until the measured
    * window has elapsed (at least `minRequests`), stopping only after a
    * multiple of `cycle` requests so every request kind is sampled in
    * its fixed proportion. */
  def closedLoop(minRequests: Int, cycle: Int = 1)(next: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minRequests || i % cycle != 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      System.gc() // collect between requests, never inside one (graft.Bench does the same)
      next(i); i += 1
    }
    mark("loop")
    out("latencies_s") = latencies.toSeq
  }

  /** Wall seconds of the spans named `name` (traced run only). */
  def spanSeconds(name: String): Seq[Double] =
    tracer.spans.filter(_.name == name).map(_.seconds).toSeq

  def medianSpan(name: String): Double = Stats.median(spanSeconds(name))

  def finish(): Unit = {
    mark("finish")
    out("phases") = phases
    out("attempted") = attempted
    out("failed") = failed
    out("errors") = errors.toSeq
    out("checks") = checks.toSeq
  }
}

trait Workload {
  /** Generate and load the inputs into the current session (set-up). */
  def load(): Unit
  /** Release what load() cached before the session is stopped. */
  def unload(): Unit = ()
  /** Build phase, timed closed loop, correctness checks. */
  def execute(): Unit
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Seeded synthetic vectors: Gaussian clusters around an 8-dimensional
  * subspace plus small isotropic noise, so IVF routing sees the cluster
  * structure and nearest neighbours are as distinct as in real
  * embeddings (isotropic 64-d noise makes all in-cluster distances
  * nearly equal). */
object Vectors {
  val Dim = 64
  private val Clusters = 32
  private val Latent = 8

  /** `n` vectors; stream `stream` of `seed` (0: gallery, 1+: queries
    * and ingest batches), ids from `id0`. */
  def make(seed: Long, stream: Long, n: Int, id0: Long): Array[(Long, Array[Double])] = {
    val shape = new java.util.Random(seed * 7919L + 1)
    val centers = Array.fill(Clusters, Dim)(shape.nextGaussian())
    val basis = Array.fill(Latent, Dim)(shape.nextGaussian() * 0.5)
    val r = new java.util.Random(seed * 1000003L + stream)
    Array.tabulate(n) { i =>
      val v = centers(r.nextInt(Clusters)).clone()
      for (l <- 0 until Latent) {
        val z = r.nextGaussian(); val b = basis(l)
        for (j <- 0 until Dim) v(j) += z * b(j)
      }
      for (j <- 0 until Dim) v(j) += 0.05 * r.nextGaussian()
      (id0 + i, v)
    }
  }

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** A gallery-sized input, spread over the cores. */
  def frame(spark: SparkSession, rows: Array[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.toSeq.map { case (id, v) => Row(id, v.toSeq) }, Main.Cores),
      Schema)

  /** A request-sized input (query or ingest batch) as a local relation,
    * the way a client hands rows to the session. */
  def batch(spark: SparkSession, rows: Array[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v.toSeq) }: _*), Schema)

  /** graft's fixed-point quantization, `round(x * scale)` half-up. */
  def quantize(v: Array[Double], scale: Int = 10000): Array[Long] =
    v.map(x => BigDecimal(x * scale).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)

  def l2sq(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Brute-force exact top-k: (neighbor id, dist) in rank order, ties to
    * the lowest id, dist on the original scale as graft reports it. */
  def bruteTopK(gallery: Array[(Long, Array[Long])], q: Array[Long],
                k: Int): Seq[(Long, Double)] =
    gallery.iterator.map { case (id, g) => (l2sq(g, q), id) }.toSeq
      .sorted.take(k).map { case (d2, id) => (id, math.sqrt(d2.toDouble) / 10000.0) }
}
