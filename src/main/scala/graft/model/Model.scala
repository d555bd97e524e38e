package graft.model

import java.sql.Timestamp

/** Core data model of the rollup engine.
  *
  * `Turn` is the canonical input row (BASELINE.json `input_hint`):
  * one turn of a multi-turn conversation / agent transcript. It is the
  * Spark-native analogue of the reference's in-flight row
  * (`Map<String,Object>` + reserved keys, reference
  * `CSVReader.java:219-236`), with the stable natural key
  * `(conv_id, turn_idx)` replacing the synthetic `row_id`
  * (reference `CSVReader.java:335-346`).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

/** Retention tiers of the rollup cascade. Raw turns roll into 1-minute
  * windows, which roll into 1-hour, which roll into 1-day. Each tier has
  * a window size and a retention horizon after which the finer tier is
  * compacted away (reference analogue: the per-file lifecycle
  * `MigrateTask.java:104-110`, generalized to windows). The columns of a
  * tier row are [[graft.rollup.Rollup.columns]].
  */
sealed abstract class Tier(val name: String, val windowSeconds: Long)
    extends Serializable {
  def windowExpr: String = s"$windowSeconds seconds"
}

object Tier {
  case object M1 extends Tier("1m", 60L)
  case object H1 extends Tier("1h", 3600L)
  case object D1 extends Tier("1d", 86400L)

  /** Cascade order: tier k is computed from tier k-1. */
  val cascade: Seq[Tier] = Seq(M1, H1, D1)
}
