package graft.ingest

import graft.model.Turn
import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** Seeded, distributed transcript generator (FIXTURES.md §1): no
  * wall-clock, no external data — `(seed, conv_id)` fully determines a
  * conversation, so any scale point regenerates bit-identically and
  * golden values are stable.
  *
  * Scale path: conversations are the parallel unit (`spark.range(nConvs)`
  * → `flatMap`), so generating 10^7+ turns uses all executors and never
  * materializes on the driver. Skew is injected by making the first
  * `hotConvs` conversations `hotFactor`× longer (FIXTURES.md: "1% of
  * convs hold 50% of turns").
  */
object Synth {

  private val tools = Array("search", "calc", "browse", "code", "db")
  private val words = Array(
    "the", "rollup", "spark", "window", "turn", "agent", "tool", "query",
    "plan", "shuffle", "series", "batch", "merge", "stream", "state")

  /** Epoch millis of 2024-01-01T00:00:00Z. */
  private val epochStart = 1704067200000L

  def transcripts(
      spark: SparkSession,
      nConvs: Int,
      avgTurns: Int,
      seed: Long = 42L,
      hotConvs: Int = 0,
      hotFactor: Int = 50,
      nullTsEvery: Int = 0): Dataset[Turn] = {
    implicit val enc = Encoders.product[Turn]
    spark.range(0L, nConvs.toLong).flatMap { convId =>
      genConv(convId, avgTurns, seed, convId < hotConvs, hotFactor, nullTsEvery)
    }
  }

  /** Generate one conversation; pure function of its arguments. */
  def genConv(
      convId: Long,
      avgTurns: Int,
      seed: Long,
      hot: Boolean,
      hotFactor: Int,
      nullTsEvery: Int): Seq[Turn] = {
    val rng = new java.util.Random(seed * 0x9e3779b97f4a7c15L + convId * 0xc2b2ae3d27d4eb4fL)
    // log-normal-ish turn count around avgTurns
    val base = math.max(1, (avgTurns * math.exp(rng.nextGaussian() * 0.6)).toInt)
    val n = if (hot) base * hotFactor else base
    var ts = epochStart + (rng.nextDouble() * 30L * 86400000L).toLong
    (0 until n).map { i =>
      ts += 500L + (rng.nextDouble() * rng.nextDouble() * 240000L).toLong
      val isTool = rng.nextDouble() < 0.15
      val role =
        if (isTool) "tool"
        else if (i % 2 == 0) "user"
        else "assistant"
      val nw = 1 + rng.nextInt(24)
      val text = Seq.fill(nw)(words(rng.nextInt(words.length))).mkString(" ")
      val tool = if (isTool) tools(rng.nextInt(tools.length)) else null
      val t =
        if (nullTsEvery > 0 && i % nullTsEvery == nullTsEvery - 1) null
        else new Timestamp(ts)
      Turn(s"conv$convId", i, role, text, tool, t)
    }
  }
}
