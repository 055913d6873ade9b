package graft

import graft.sources.BucketedStore

class BucketedStoreSpec extends SparkSpec {
  import spark.implicits._

  private val sortMergeOnly = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.enabled" -> "false")

  test("bucketed tables co-locate joins: no shuffle exchange in the plan") {
    // force a sort-merge join path so the exchange (or its absence) is
    // observable
    withConf(sortMergeOnly: _*) {
      // a previous JVM's warehouse dir survives while the in-memory
      // catalog does not — clear the orphan locations first
      for (t <- Seq("bkt_a", "bkt_b")) {
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val dir = java.nio.file.Paths.get("spark-warehouse", t)
        if (java.nio.file.Files.exists(dir)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      }
      val df = (0L until 100L).map(i => (i, i * 2)).toDF("id", "x")
      BucketedStore.save(df, "bkt_a", "id", 4)
      BucketedStore.save(df.withColumnRenamed("x", "y"), "bkt_b", "id", 4)
      val j = BucketedStore.load(spark, "bkt_a")
        .join(BucketedStore.load(spark, "bkt_b"), "id")
      assert(j.count() === 100L)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
    }
  }

  test("unbucketed baseline of the same join DOES shuffle") {
    withConf(sortMergeOnly: _*) {
      val a = (0L until 100L).map(i => (i, i * 2)).toDF("id", "x")
      val b = (0L until 100L).map(i => (i, i * 3)).toDF("id", "y")
      val j = a.join(b, "id")
      assert(j.count() === 100L)
      assert(j.queryExecution.executedPlan.toString.contains("Exchange"))
    }
  }
}
