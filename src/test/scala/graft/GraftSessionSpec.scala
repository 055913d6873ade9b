package graft

/** The shared test session carries the settings `GraftSession` ships,
  * so results and plans under test are the ones Bench and Verify see. */
class GraftSessionSpec extends SparkSpec {

  test("tests run under the shipped session settings") {
    val conf = spark.conf
    assert(conf.get("spark.sql.optimizer.excludedRules")
      .contains("InferFiltersFromGenerate"))
    assert(conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ===
      "1000000")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    // the native functions resolve with no explicit register call
    assert(spark.sql("SELECT graft_l2sq(array(0L, 3L), array(4L, 0L))")
      .head().getLong(0) === 25L)
  }

  test("withConf restores prior values and unsets keys it added") {
    val aqe = "spark.sql.adaptive.enabled"
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = (spark.conf.get(aqe), spark.conf.getAll.get(key))
    withConf(aqe -> "false", key -> "-1") {
      assert(spark.conf.get(aqe) === "false")
      assert(spark.conf.get(key) === "-1")
    }
    assert((spark.conf.get(aqe), spark.conf.getAll.get(key)) === before)
  }
}
