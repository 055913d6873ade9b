package graft.tools

import graft.GraftSession
import graft.queries.Queries

/** Recall@k of every approximate ANN path against the exact scan, on
  * the same seeded setups the gated queries use. Prints one JSON line
  * per method; recorded in SURVEY §4c. */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    def hits(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

    // exact top-5 in rank order → prefix gives exact top-k for k <= 5
    val exactRanked: Map[Long, Seq[Long]] =
      Queries.v1KnnL2(spark, sfDir)
        .select("query_id", "rnk", "neighbor_id").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rows) =>
          q -> rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
        }
    // (name, declared k of the gated query)
    val methods = Seq(
      ("ivf_probe_v7", 3, () => Queries.v7IvfSearch(spark, sfDir)),
      ("lsh_v10", 5, () => Queries.v10LshSearch(spark, sfDir)),
      ("pq_adc_v11", 5, () => Queries.v11PqAdc(spark, sfDir)),
      ("ivfpq_v13", 5, () => Queries.v13IvfPqSearch(spark, sfDir)))
    def report(name: String, k: Int,
               df: org.apache.spark.sql.DataFrame): Unit = {
      val approx = hits(df)
      val recalls = exactRanked.toSeq.map { case (q, ranked) =>
        val truth = ranked.take(k).toSet
        approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble /
          truth.size
      }
      val r = recalls.sum / recalls.size
      println(f"""{"recall_method":"$name","k":$k,"queries":${exactRanked.size},"recall":$r%.4f,"sf":"$sfDir"}""")
    }
    methods.foreach { case (name, k, f) => report(name, k, f()) }

    // the recall/cost knob: nprobe sweep over a TRAINED coarse
    // quantizer (the gated queries use seeded params for oracle
    // determinism; deployment uses Lloyd-trained centroids + nprobe)
    import graft.operators.{IvfIndex, KnnJoin}
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val queries = e.filter(col("vec_id") % 100 === 0)
    val trained = IvfIndex.train(spark, e, "vec_id", "embedding",
      k = 10, iters = 5)
    val index = IvfIndex.assign(e, trained, "vec_id", "embedding", "cid")
    for (nprobe <- Seq(1, 2, 4, 8)) {
      report(s"ivf_trained_nprobe$nprobe", 5,
        IvfIndex.search(index, trained, queries, "vec_id", "embedding",
          "cid", "vec_id", k = 5, nprobe = nprobe))
    }
    spark.stop()
  }
}
