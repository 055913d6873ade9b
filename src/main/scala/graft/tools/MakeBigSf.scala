package graft.tools

import graft.GraftSession
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds the DATA-BOUND bench point: a replicated blow-up of the
  * sf0.1 pipeline tables under /tmp/graft_sfbig, so the 70+-query
  * bench has one scale where per-query cost is dominated by data, not
  * by Spark's ~0.2-0.5 s scheduling floor (at sf0.1, 46 of 70 queries
  * sit on that floor and the DuckDB comparison is uninformative).
  *
  * Replication is id-remapped and content-decorrelated so operator
  * semantics scale honestly instead of manufacturing pathologies:
  *  - documents ×D: doc_id + rep·10⁷; every token of a non-zero
  *    replica is prefixed with its replica tag (the DedupScaleProbe
  *    bijection — intra-replica similarity structure is distribution-
  *    identical, cross-replica docs share zero tokens);
  *  - embeddings ×E: vec_id + rep·10⁷ (10⁷ % 100 = 0 keeps the
  *    query-set and seed-centroid selections consistent), vector
  *    CIRCULARLY ROTATED by rep positions (norm- and distribution-
  *    preserving, decorrelates replicas so near-dup pairs don't grow
  *    quadratically across replicas);
  *  - events ×V: event_id + rep·10⁹, user_id + rep·10⁶ (new users:
  *    per-user event density, session and funnel shapes unchanged);
  *  - customer/orders/lineitem ×R: key-remapped consistently
  *    (c_custkey/o_custkey + rep·10⁷, o_orderkey/l_orderkey + rep·10⁹)
  *    so every customer→orders→lineitem join holds within its replica —
  *    the effect is a higher-SF TPC-H where each part/supplier sees R×
  *    the lineitems (part and supplier stay dimension tables). This is
  *    the data-bound point for the relational q-/e-family the r3
  *    verdict asked for.
  * nation/region/part/supplier are symlinked unchanged (dimensions).
  */
object MakeBigSf {
  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_BIG_DIR", "/tmp/graft_sfbig")
    val dFac = sys.env.getOrElse("SPARK_GRAFT_BIG_DOCS", "20").toInt
    val eFac = sys.env.getOrElse("SPARK_GRAFT_BIG_EMB", "50").toInt
    val vFac = sys.env.getOrElse("SPARK_GRAFT_BIG_EVENTS", "20").toInt
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    def reps(n: Int) =
      explode(array((0 until n).map(i => lit(i.toLong)): _*)).as("rep")

    // documents: bijective token renaming per replica
    val docs = Tables.documents(spark, srcDir)
    val retagged = array_join(
      transform(split(col("text"), " "),
        t => concat(lit("r"), col("rep"), lit("_"), t)), " ")
    docs.select(col("*"), reps(dFac))
      .select((col("doc_id") + col("rep") * 10000000L).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(retagged).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // embeddings: circular rotation by rep positions (dim 64) —
    // out[i] = in[(i + rep) mod dim]
    val dim = 64
    val rotated = transform(sequence(lit(0), lit(dim - 1)),
      i => element_at(col("embedding"),
        (pmod(i + col("rep"), lit(dim)) + 1).cast("int")))
    Tables.embeddings(spark, srcDir).select(col("*"), reps(eFac))
      .select((col("vec_id") + col("rep") * 10000000L).as("vec_id"),
        rotated.as("embedding"), col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // events: new ids + new users per replica
    Tables.events(spark, srcDir).select(col("*"), reps(vFac))
      .select((col("event_id") + col("rep") * 1000000000L).as("event_id"),
        col("ts"), (col("user_id") + col("rep") * 1000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // fact-side relational tables: consistent key remap per replica
    val rFac = sys.env.getOrElse("SPARK_GRAFT_BIG_REL", "20").toInt
    def unlink(t: String): Unit =
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(outDir, s"$t.parquet"))

    // key remap preserving every other column as-is (schemas differ
    // from full TPC-H — the testdata tables are trimmed)
    def replicate(name: String, src: DataFrame,
                  remap: Map[String, Long]): Unit = {
      unlink(name)
      src.select(col("*"), reps(rFac))
        .select(src.columns.toIndexedSeq.map(c => remap.get(c)
          .map(o => (col(c) + col("rep") * o).as(c)).getOrElse(col(c))): _*)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    replicate("customer", Tables.customer(spark, srcDir),
      Map("c_custkey" -> 10000000L))
    replicate("orders", Tables.orders(spark, srcDir),
      Map("o_orderkey" -> 1000000000L, "o_custkey" -> 10000000L))
    replicate("lineitem", Tables.lineitem(spark, srcDir),
      Map("l_orderkey" -> 1000000000L))

    // dimension tables ride along unchanged (symlinks)
    for (t <- Seq("region", "nation", "supplier", "part")) {
      val link = java.nio.file.Paths.get(outDir, s"$t.parquet")
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(srcDir, s"$t.parquet"))
    }
    for (t <- Seq("documents", "embeddings", "events", "customer",
        "orders", "lineitem"))
      println(s"[makebigsf] $t rows=" +
        spark.read.parquet(s"$outDir/$t.parquet").count())
    spark.stop()
  }
}
