package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Both sides of the spread's size gate, by planning only: `spark.range`
  * is estimated at 8 bytes per row, so frames above the 256 MB gate
  * need no data.
  */
class ScanSpreadSpec extends SparkTestBase {

  /** Partition counts of the round-robin exchanges and the number of
    * all exchanges in `df`'s physical plan (AQE's input plan).
    */
  private def exchanges(df: DataFrame): (Seq[Int], Int) = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val all = plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    (all.collect { case r: RoundRobinPartitioning => r.numPartitions }, all.size)
  }

  test("a frame at or below 256 MB gains exactly one round-robin exchange; above it, none") {
    val gate = ScanSpread.defaultSpreadMaxBytes
    assert(gate == 256L * 1024 * 1024)
    val (planned, jobs) = jobsStarted {
      Seq(1000L, gate / 8, gate / 8 + 1, 1L << 36).map { n =>
        val df = spark.range(0, n).toDF()
        assert(exchanges(df) == (Seq.empty, 0))
        n -> exchanges(ScanSpread.spreadForCompute(df))
      }.toMap
    }
    val spread = (Seq(spark.sparkContext.defaultParallelism), 1)
    assert(planned(1000L) == spread)
    assert(planned(gate / 8) == spread)
    assert(planned(gate / 8 + 1) == (Seq.empty, 0))
    assert(planned(1L << 36) == (Seq.empty, 0))
    assert(jobs == 0)
  }
}
