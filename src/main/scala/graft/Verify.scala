package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Queries in flight at once. */
  private val Parallelism = 4

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated key filter for fast local iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name))
    }
    // Queries run concurrently on a small pool: per-query cost at the
    // gate SF is dominated by single-threaded Catalyst planning/codegen,
    // which parallelizes perfectly ACROSS queries (Spark's scheduler
    // interleaves the resulting jobs). Each query writes its own dir.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Parallelism)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val tasks = selected.toSeq.map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            e.printStackTrace()
            failed.add(name)
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // fail loudly: a key that threw has no output dir, and a zero exit
    // would leave only the oracle compare to notice.
    if (!failed.isEmpty) {
      val keys = failed.asScala.toSeq.sorted
      System.err.println(
        s"[verify] ${keys.size} failed: ${keys.mkString(",")}")
      sys.exit(1)
    }
  }
}
