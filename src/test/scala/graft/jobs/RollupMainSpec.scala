package graft.jobs

import org.scalatest.funsuite.AnyFunSuite

/** `RollupMain.parseArgs` is called directly: `main` would stop the
  * shared test session.
  */
class RollupMainSpec extends AnyFunSuite {

  private def rejected(args: String*): String =
    intercept[IllegalArgumentException](RollupMain.parseArgs(args.toArray)).getMessage

  test("parseArgs reads every flag and defaults --source and --job-id") {
    val a = RollupMain.parseArgs(Array("--warehouse", "/wh", "--source", "parquet:/in",
      "--job-id", "j1", "--retention-watermark", "2024-06-01"))
    assert(a == RollupMain.Args("/wh", "parquet:/in", "j1", Some("2024-06-01")))
    val d = RollupMain.parseArgs(Array("--warehouse", "/wh"))
    assert(d.source == "synth:100:100:42" && d.jobId.startsWith("rollup-"))
    assert(d.retentionWatermark.isEmpty)
  }

  test("parseArgs rejects unknown and repeated flags, naming them") {
    assert(rejected("--warehouse", "/wh", "--retention-watermak", "2024-06-01")
      .contains("--retention-watermak"))
    assert(rejected("--warehouse", "/wh", "--warmup", "true").contains("--warmup"))
    assert(rejected("--warehouse", "/wh", "--job-id", "a", "--job-id", "b")
      .contains("--job-id"))
  }

  test("parseArgs rejects a flag without a value and a stray argument") {
    assert(rejected("--warehouse", "/wh", "--job-id").contains("--job-id"))
    assert(rejected("--job-id", "--warehouse", "/wh").contains("--job-id"))
    assert(rejected("--warehouse", "/wh", "extra").contains("extra"))
    assert(rejected("--source", "synth:1:1:1").contains("--warehouse"))
  }

  test("parseArgs rejects a watermark that is not an ISO day") {
    for (day <- Seq("2024-6-1", "2024-06-31", "06/01/2024", "yesterday"))
      assert(rejected("--warehouse", "/wh", "--retention-watermark", day)
        .contains("--retention-watermark"), day)
  }
}
