package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dumps `.explain("formatted")` for a set of SparkEntry queries into
  * one file per key — the committed before/after plan evidence for
  * optimization rounds (plans/rN/<key>_{before,after}.txt).
  *
  * Usage: DumpPlans <outDir> <suffix> [key,key,...]
  *   outDir  e.g. plans/r13
  *   suffix  "before" | "after"
  *   keys    optional comma list; default = every SparkEntry query.
  * SF dir via SPARK_GRAFT_SF_DIR (default sf0.1 — the bench SF, so the
  * dumped plan is the plan the bench actually runs). */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val keys: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => keys.forall(_.contains(name)) }
      .toSeq.sortBy(_._1)
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plans] wrote $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"[plans] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
