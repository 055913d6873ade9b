package graft.tools

import graft.GraftSession
import graft.operators.Dedup
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Scaling probe for the banded SimHash near-dup join (`d6`'s plan) —
  * the flagship sub-quadratic path (its naive twin is all-pairs: 12.5M
  * candidate Hamming checks at 5k docs, 200M at 20k).
  *
  * The corpus is replicated ×factor with NEW doc ids; every token of a
  * non-zero replica is prefixed with the replica tag. Token renaming is
  * a BIJECTION per replica: each replica's pairwise shared-token
  * fractions are identical to the original corpus (so its internal
  * near-dup structure is distribution-identical under fresh md5 bits),
  * while docs from different replicas share zero tokens (hamming ~32,
  * never pairs). Output pairs and bucket sizes therefore scale
  * ~linearly in factor, and the probe measures the ALGORITHM's growth,
  * not a synthetic quadratic blow-up of duplicated content. A quadratic
  * plan would show 16× time at factor 4; the banded plan should show
  * ~4×. (An earlier additive-salt design appended the SAME tokens to
  * every doc of a replica — that pulls the replica's fingerprints
  * together and manufactures mega-buckets.)
  */
object DedupScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,2,4")
      .split(",").map(_.trim.toInt).toSeq
    for (factor <- factors) {
      val path = s"/tmp/graft_dedup_scale_$factor"
      val retagged = array_join(
        transform(split(col("text"), " "),
          t => concat(lit("r"), col("rep"), lit("_"), t)), " ")
      docs.withColumn("rep",
          explode(array((0 until factor).map(i => lit(i.toLong)): _*)))
        .select((col("doc_id") + col("rep") * 10000000L).as("doc_id"),
          when(col("rep") === 0, col("text")).otherwise(retagged)
            .as("text"))
        .repartition(32)
        .write.mode("overwrite").parquet(path)
      val scaled = spark.read.parquet(path)
      val n = scaled.count()
      def run(): Long = Dedup.simhashDup(scaled, "doc_id", "text").count()
      run() // warm: JIT + codegen for this factor's plan
      val (pairs, sec) = time(run())
      println(s"""{"probe":"simhash_banded_dedup","factor":$factor,"docs":$n,"pairs":$pairs,"sec":$sec}""")
    }
    spark.stop()
  }
}
