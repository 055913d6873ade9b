package graft.tools

import graft.GraftSession
import graft.operators.Dedup
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Adversarial probe for the MinHash-LSH mega-bucket guard: injects a
  * boilerplate family (N verbatim copies of one document — the
  * "same footer on every page" pathology) into the sf corpus and runs
  * the banded near-dup join guarded vs unguarded.
  *
  * Without the guard every copy lands in the SAME band bucket in all 4
  * bands, so one join task enumerates ~N²/2 · 4 candidates — quadratic
  * in the family size, concentrated on one core. With the operational
  * cap the over-full buckets are anti-joined away before the join
  * exchange and the family contributes zero candidates. The probe
  * reports wall-clock and output pairs for both paths so the guard's
  * effect is measured, not asserted.
  */
object BucketGuardProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val family = sys.env.getOrElse("SPARK_GRAFT_BOILER_N", "2000").toInt
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    // the boilerplate family: `family` rows of one fixed document
    val boiler = spark.range(family)
      .select((col("id") + 50000000L).as("doc_id"),
        lit("this page is part of the site all rights reserved contact " +
          "us terms of service privacy policy copyright notice footer")
          .as("text"))
    val corpus = docs.union(boiler).repartition(32)
      .write.mode("overwrite").parquet("/tmp/graft_bucket_guard")
    val scaled = spark.read.parquet("/tmp/graft_bucket_guard")
    val n = scaled.count()

    def time(maxBucket: Long): (Long, Double) = {
      val t0 = System.nanoTime()
      val pairs = Dedup.minhashLsh(scaled, "doc_id", "text",
        maxBucket = maxBucket).count()
      (pairs, (System.nanoTime() - t0) / 1e9)
    }
    // warm both plans once at tiny scale is unnecessary — relative
    // comparison within one JVM is the signal here
    val (gp, gs) = time(Dedup.DefaultMaxBucket)
    val (up, us) = time(Long.MaxValue)
    println(s"""{"probe":"lsh_bucket_guard","docs":$n,"family":$family,"guarded_pairs":$gp,"guarded_sec":$gs,"unguarded_pairs":$up,"unguarded_sec":$us}""")

    // The SAME adversarial family against the SimHash paths: identical
    // copies share all four band values AND the full fingerprint, so
    //  - unguarded d6 enumerates ~family²/2·4 candidates in one task
    //    and its verified OUTPUT is itself quadratic;
    //  - guarded d6 drops the over-full buckets (cap semantics);
    //  - the d7 edge path contracts the family to ONE representative +
    //    family−1 star edges — O(k), clusters preserved.
    def timeSim(maxBucket: Long): (Long, Double) = {
      val t0 = System.nanoTime()
      val pairs = Dedup.simhashDup(scaled, "doc_id", "text",
        maxBucket = maxBucket).count()
      (pairs, (System.nanoTime() - t0) / 1e9)
    }
    val (sgp, sgs) = timeSim(Dedup.SimhashMaxBucket)
    val (sup, sus) = timeSim(Long.MaxValue)
    val t0 = System.nanoTime()
    val edges = Dedup.simhashDupEdges(scaled, "doc_id", "text").count()
    val es = (System.nanoTime() - t0) / 1e9
    println(s"""{"probe":"simhash_bucket_guard","docs":$n,"family":$family,"guarded_pairs":$sgp,"guarded_sec":$sgs,"unguarded_pairs":$sup,"unguarded_sec":$sus,"edges":$edges,"edges_sec":$es}""")
    spark.stop()
  }
}
