package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `oracle_sql.json` is what the DuckDB compare loads: it must read back
  * as exactly the oracle SQL of the queries the name filter selects, and
  * every query but the rows-only sketches has one.
  */
class VerifySpec extends AnyFunSuite {

  test("the oracle dump reads back as the filtered oracle SQL map") {
    for (filter <- Seq(".*", "^q14")) {
      val re = filter.r
      val expected = SparkEntry.oracleSql.filter { case (k, _) => re.findFirstIn(k).isDefined }
      assert(expected.nonEmpty, filter)
      val back = Json.mapper.readValue(Verify.oracleJson(re),
        classOf[java.util.Map[String, String]]).asScala.toMap
      assert(back == expected, filter)
    }
  }

  test("query census: every oracle names a query; only the three sketch queries lack one") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(oracles.subsetOf(queries), oracles -- queries)
    assert(queries -- oracles == Set("q85_daily_cardinality_approx",
      "q132_rolling_active_sketch", "q143_funnel_latency_gk"))
    assert(queries.size == 118)
  }
}
