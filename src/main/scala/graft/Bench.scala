package graft
import org.apache.spark.sql.SparkSession
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up passes: compile+JIT the generated classes each query uses,
    // so the timed pass measures steady-state engine throughput, not
    // one-shot JVM warmup (C2 needs thousands of invocations to kick in
    // on the wide codegen'd methods).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // Optional subset filter for iteration (same contract as Verify).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name)) }
    // noop sink, not count(): under a count() aggregate Catalyst prunes
    // every projection that doesn't affect row count, so map-only
    // queries would be timed as scan+count without ever evaluating
    // their expressions. The noop writer materializes every output
    // column (same work a real sink or collect would force) and
    // discards it.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
            dir: String): Unit =
      fn(spark, dir).write.format("noop").mode("overwrite").save()
    // The ContextCleaner frees broadcasts/shuffles only when the
    // DRIVER GCs; a 64 GiB single-JVM suite of ~700 sequential
    // queries barely GCs the old gen, so executor-side storage fills
    // with dead broadcasts and random mid-suite keys pay 2-5× in
    // execution-memory contention (measured: the >2× victim set
    // wandered between otherwise-identical sweeps). BUT the cleaner's
    // periodic System.gc() is a FULL STW collection that lands
    // mid-query: at the data-bound point (64 GiB live heap) each
    // pause costs seconds to tens of seconds, and two back-to-back
    // 237-key sweeps showed disjoint contiguous >2× victim windows
    // (e22-e25 in one, d13/e12-e18/m3-m6/t5 in the other) exactly
    // where a 60s timer fired. So spark.cleaner.periodicGC.interval
    // stays at its 30min default (≈ off) and the SAME System.gc() runs
    // here, BETWEEN queries — identical broadcast/shuffle reclamation,
    // zero timed-region pauses (the JMH pattern). ~45s cadence keeps
    // the old 60s reclamation rate.
    var lastGc = System.nanoTime()
    def gcBetweenQueries(): Unit =
      if ((System.nanoTime() - lastGc) / 1e9 > 45.0) {
        System.gc(); lastGc = System.nanoTime()
      }
    // A query that throws records NO sample (its median prints -1 and a
    // "failed" list names it): swallowing the error and keeping the
    // time-to-exception would make a broken query look FAST and lower
    // the recorded total. A warm-up failure counts too.
    val failed = scala.collection.mutable.Set.empty[String]
    for (dir <- Seq(warmDir, sfDir); (name, fn) <- selected) {
      gcBetweenQueries()
      try run(fn, dir) catch { case _: Throwable => failed += name }
    }
    // Median-of-N per query (default 3): a single-shot number is hostage
    // to host noise / GC / JIT recompiles; the median is the recorded
    // signal. Rounds are interleaved ACROSS the suite (run all queries,
    // then repeat) so one multi-minute noisy host window cannot poison
    // all of a single query's samples.
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "3").toInt
    val ordered = selected.toSeq.sortBy(_._1)
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to rounds; (name, fn) <- ordered) {
      gcBetweenQueries()
      val t0 = System.nanoTime()
      try {
        run(fn, sfDir)
        samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => failed += name }
    }
    val results = ordered.map { case (name, _) =>
      val times = samples(name).sorted
      name -> (if (times.isEmpty) -1.0 else times(times.size / 2))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failedJson = failed.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    println(json)
    // ALSO write the full per-query JSON to a file: stdout tails get
    // truncated by capture harnesses (BENCH_r03 lost its d-family keys
    // that way) — the committed file is the durable artifact.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_full_latest.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    // The capture harness keeps only a ~2000-char stdout TAIL and
    // parses its last line as JSON — the full per-key line above never
    // fits, so every round's wrapper carried "parsed": null (r12
    // verdict's artifact-hygiene item). Print a COMPACT summary line
    // LAST: it fits the tail, parses, and names the durable per-key
    // artifact, making the round wrapper self-describing.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"sf":"$sfDir","queries_file":"$out"}""")
    spark.stop()
  }
}
