package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The census of the engine's options: every `spark.graft.*` config key
  * and `SPARK_GRAFT_*` env var named anywhere in `src/main/scala` (reads,
  * messages and docs alike). Adding or retiring an option means editing
  * these sets in the same change.
  */
class KnobCensusSpec extends AnyFunSuite {

  private val configKeys = Set.empty[String]
  private val envVars = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_BENCH_TURNS", "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_REPS")

  private def named(pattern: String): Set[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val files = Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    val re = pattern.r
    files.flatMap(f => re.findAllIn(Files.readString(f)))
      .map(_.stripSuffix(".").stripSuffix("_")).toSet
  }

  test("src/main names exactly the declared config keys and env vars") {
    assert(named("""spark\.graft\.[A-Za-z0-9_.]*""") == configKeys)
    assert(named("""SPARK_GRAFT_[A-Z0-9_]*""") == envVars)
  }
}
