package graft.tools

import graft.GraftSession
import graft.functions.VectorFunctions._
import graft.operators.{IvfIndex, IvfPq, KnnJoin, PqIndex}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling evidence for the ANN paths: replicate the sf0.1 gallery
  * 1×/10×/50× (2k → 100k vectors), persist as multi-split parquet, and
  * time exact KNN vs IVFPQ search over the same query set. Prints one
  * JSON line per (factor, op). Dev tool — results recorded in SURVEY §4.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("long").as("id"),
        transform(quantize(col("embedding")), x => x.cast("double"))
          .as("qemb"))
    val m = 8; val dim = 64; val ksub = 16
    val book = PqIndex.seededBook(base, "id", "qemb", dim, m, ksub)
    val cents = base.filter(col("id") < 10)
      .select(col("id").as("cid"), col("qemb"))
    val queries = base.filter(col("id") % 100 === 0)

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def emit(op: String, factor: Int, rows: Long, sec: Double): Unit =
      println(s"""{"probe":"$op","factor":$factor,"gallery_rows":$rows,"sec":$sec}""")

    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,10,50")
      .split(",").map(_.trim.toInt).toSeq
    for (factor <- factors) {
      val path = s"/tmp/graft_scale_$factor"
      val gallery: DataFrame = {
        base.withColumn("rep",
            explode(array((0 until factor).map(i => lit(i.toLong)): _*)))
          .select((col("id") + col("rep") * 1000000L).as("id"), col("qemb"))
          .repartition(32)
          .write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      }
      val n = gallery.count()
      // warm-up one pass each, then timed
      KnnJoin.knnL2(gallery, queries, "id", "qemb", "id", k = 5, scale = 1).count()
      val (_, tKnn) = time(
        KnnJoin.knnL2(gallery, queries, "id", "qemb", "id", k = 5,
          scale = 1).count())
      emit("exact_knn", factor, n, tKnn)
      // index build (encode + coarse assign), then probe search
      val (codes, tBuild) = time {
        val c = PqIndex.encode(gallery, "id", "qemb", dim, m, book)
          .join(IvfIndex.assign(gallery, cents, "id", "qemb", "cid",
            scale = 1).select(col("id"), col("centroid_id")), Seq("id"))
        c.write.mode("overwrite").parquet(s"$path-idx")
        spark.read.parquet(s"$path-idx")
      }
      emit("ivfpq_build", factor, n, tBuild)
      IvfPq.search(codes, cents, queries, "cid", "id", "qemb",
        dim, m, book, k = 5, nprobe = 2, scale = 1).count()
      val (_, tSearch) = time(
        IvfPq.search(codes, cents, queries, "cid", "id", "qemb",
          dim, m, book, k = 5, nprobe = 2, scale = 1).count())
      emit("ivfpq_search", factor, n, tSearch)
    }
    spark.stop()
  }
}
