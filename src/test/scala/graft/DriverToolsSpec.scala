package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.tools.ExplainAudit
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The text the driver-facing mains write: Verify's oracle_sql.json and
  * the plan text ExplainAudit and DumpPlans print. */
class DriverToolsSpec extends AnyFunSuite {

  private def parse(json: String): Map[String, String] =
    new ObjectMapper().readTree(json).properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap

  test("oracle_sql.json holds exactly the selected keys' SQL") {
    val subset = Set("v1_knn_l2", "e2_sessionize")
    assert(subset.subsetOf(SparkEntry.oracleSql.keySet))
    val got = parse(Verify.oracleJson(subset))
    assert(got === SparkEntry.oracleSql.filter { case (k, _) =>
      subset.contains(k) })
  }

  test("oracle_sql.json of every key parses back to every oracle") {
    assert(parse(Verify.oracleJson(SparkEntry.queries.keySet)) ===
      SparkEntry.oracleSql)
  }

  test("plan text masks JVM lambda addresses") {
    val plan = "Arguments: graft.multimodal.BinaryPipeline$$$Lambda$5158/" +
      "0x00007fa11141b8f0@3d446ba9, obj#13\n" +
      "f: Foo$$Lambda/0x000071c2a83f4a28@1b2c"
    assert(ExplainAudit.maskLambdas(plan) ===
      "Arguments: graft.multimodal.BinaryPipeline$$$Lambda, obj#13\n" +
      "f: Foo$$Lambda")
  }
}
