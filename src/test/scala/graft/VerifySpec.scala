package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `oracle_sql.json` is what the DuckDB compare loads: it must read back
  * as exactly the oracle SQL of the queries the name filter selects.
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
}
