package perfbench

import graft.ingest.Transcripts
import graft.jobs.RollupJob
import graft.model.Tier
import graft.retention.Retention
import graft.rollup.{BlockRollup, Rollup}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks. They run after the timed region; a failed check
  * counts as a failed operation and clears `correct`.
  */
object Checks {

  final case class Result(name: String, ok: Boolean, detail: String) {
    def emit(): Unit = Emit.record("check", "name" -> name, "ok" -> ok, "detail" -> detail)
  }

  /** Order-independent fingerprint of a frame: its row count and the
    * sum of the rows' 64-bit hashes.
    */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  private def dayOf(c: String) = date_format(col(c), "yyyy-MM-dd")

  /** Each stored tier equals a direct `fromRaw`/`cascade` of `input`,
    * restricted to the days retention keeps at `watermarkDay` (every
    * day when there was no retention pass), and the blocks decode back
    * to exactly the input's points of those days.
    */
  def pipeline(spark: SparkSession, input: DataFrame, job: RollupJob,
      watermarkDay: Option[String]): Seq[Result] = {
    val valid = Transcripts.splitValid(Transcripts.validate(input))._1
    val days = valid.select(dayOf("ts")).distinct().collect().map(_.getString(0)).toSet
    val policy = Retention.Policy()
    def kept(key: String): Set[String] = watermarkDay match {
      case None => days
      case Some(w) =>
        val cutoff = java.time.LocalDate.parse(w)
          .minusDays(policy.horizonDays(key).toLong).toString
        days.filter(_ >= cutoff)
    }
    val m1 = Rollup.fromRaw(valid, Tier.M1).localCheckpoint()
    val h1 = Rollup.cascade(m1, Tier.H1).localCheckpoint()
    val d1 = Rollup.cascade(h1, Tier.D1)
    val tiers = Seq(Tier.M1 -> m1, Tier.H1 -> h1, Tier.D1 -> d1).map { case (t, direct) =>
      val table = job.tierTable(t)
      val want = kept(t.name)
      val stored = fingerprint(table.read(spark).select(Rollup.columns.map(col): _*))
      val rebuilt = fingerprint(direct.filter(dayOf("window_start").isin(want.toSeq: _*)))
      Result(s"tier_${t.name}", table.partitionsOf == want && stored == rebuilt,
        s"stored ${stored._1} rows in ${table.partitionsOf.size} days, " +
          s"rebuild ${rebuilt._1} rows in ${want.size} days")
    }
    val blocks = job.blocksTable(Tier.H1)
    val wantBlocks = kept(Retention.blocksKey)
    val decoded = fingerprint(BlockRollup.decode(blocks.read(spark)))
    val points = fingerprint(valid
      .filter(col("text").isNotNull && dayOf("ts").isin(wantBlocks.toSeq: _*))
      .select(col("conv_id"), col("ts").cast("timestamp_ntz").as("ts"),
        length(col("text")).cast("double").as("value")))
    tiers :+ Result("blocks_1h", blocks.partitionsOf == wantBlocks && decoded == points,
      s"decoded ${decoded._1} points, input ${points._1} points")
  }

  /** Columns of a stitch answer, in the order digests use. */
  val stitchCols: Seq[String] = Seq(
    "conv_id", "turn_count", "user_turns", "assistant_turns", "tool_calls",
    "char_len_sum", "char_len_min", "char_len_max", "token_sum",
    "min_turn_idx", "max_turn_idx", "first_text", "last_text", "char_len_avg")

  /** Order-independent digest of a collected stitch answer. */
  def digest(rows: Seq[Row]): String = {
    val lines = rows.map(r =>
      stitchCols.map(c => String.valueOf(r.getAs[Any](c))).mkString("\u0001"))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Digest of the direct raw aggregation over each `[from, to)`, all
    * ranges in one job. Written independently of the engine's
    * aggregate definitions so that it can disagree with them.
    */
  def rawAnswers(spark: SparkSession, raw: DataFrame,
      ranges: Seq[Ranges.Range]): Map[Ranges.Range, String] = {
    import spark.implicits._
    val tsType = raw.schema("ts").dataType
    val bounds = ranges.zipWithIndex.map { case (r, i) => (i, r.from, r.to) }
      .toDF("rid", "lo", "hi")
      .select(col("rid"), col("lo").cast(tsType).as("lo"), col("hi").cast(tsType).as("hi"))
    def ifRole(role: String) = when(col("role") === role, 1L).otherwise(0L)
    val byConv = raw.join(broadcast(bounds), col("ts") >= col("lo") && col("ts") < col("hi"))
      .withColumn("char_len", length(col("text")).cast("long"))
      .groupBy(col("rid"), col("conv_id"))
      .agg(
        count(lit(1)).as("turn_count"),
        sum(ifRole("user")).as("user_turns"),
        sum(ifRole("assistant")).as("assistant_turns"),
        sum(when(col("tool").isNotNull, 1L).otherwise(0L)).as("tool_calls"),
        sum(col("char_len")).as("char_len_sum"),
        min(col("char_len")).as("char_len_min"),
        max(col("char_len")).as("char_len_max"),
        sum(size(split(col("text"), " ")).cast("long")).as("token_sum"),
        min(col("turn_idx")).as("min_turn_idx"),
        max(col("turn_idx")).as("max_turn_idx"),
        min(struct(col("turn_idx"), col("text"))).getField("text").as("first_text"),
        max(struct(col("turn_idx"), col("text"))).getField("text").as("last_text"))
      .withColumn("char_len_avg", col("char_len_sum") * lit(1.0) / col("turn_count"))
      .collect()
    val byRange = byConv.groupBy(_.getAs[Int]("rid"))
    ranges.zipWithIndex.map { case (r, i) =>
      r -> digest(byRange.getOrElse(i, Array.empty[Row]).toSeq)
    }.toMap
  }
}
