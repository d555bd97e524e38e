package graft.rollup

import graft.model.Tier
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Continuous-aggregate rollup: tumbling-window per-conversation
  * aggregation at cascading retention tiers raw→1m→1h→1d.
  *
  * Design for 100 TB:
  *  - ONE shuffle per tier: `groupBy(conv_id, window(ts))` with Spark's
  *    map-side partial aggregation (HashAggregate partial→final), the
  *    columnar analogue of the reference's per-device batch grouping
  *    (`Converter.java:94`) + Tablet pivot (`IoTDBWriter.java:147-185`).
  *  - The cascade NEVER re-reads raw: tier k is computed from tier k-1
  *    ([[cascade]]), so the 1h/1d jobs scan 60×/1440× less data. All
  *    carried metrics are decomposable (sums/min/max/argmin-by-unique-
  *    key) and defined once: a raw turn enters as one row of per-turn
  *    partials ([[turnPartials]]), and one aggregate list
  *    ([[mergeAggs]]) merges those rows and tier rows alike. Derived
  *    metrics (avg, rate) are recomputed from the carried sums at every
  *    tier, never averaged-of-averages.
  *  - Skew: hot conversations are handled by [[fromRawSalted]] — a
  *    two-phase salted aggregation (partial per (conv, window, salt),
  *    final per (conv, window)) proven output-identical to [[fromRaw]]
  *    by test; AQE skew handling is enabled in the session conf.
  *
  * Determinism: `first_text`/`last_text` are arg-min/arg-max over the
  * UNIQUE per-conversation key `turn_idx`, so results are stable under
  * any partitioning / merge order (the reference preserves file order,
  * `CSVReader.java:181`; unique-key argmin is the shuffle-safe analogue).
  */
object Rollup {

  /** Output columns of every tier table, in canonical order. */
  val columns: Seq[String] = Seq(
    "conv_id", "window_start", "turn_count", "user_turns",
    "assistant_turns", "tool_calls", "char_len_sum", "char_len_min",
    "char_len_max", "token_sum", "min_turn_idx", "max_turn_idx",
    "first_text", "last_text", "char_len_avg", "turn_rate")

  /** Mean turn length from the carried sums — recomputed at every tier
    * and in every stitch, never averaged-of-averages. */
  private def charLenAvg: Column =
    col("char_len_sum") * lit(1.0) / col("turn_count")

  /** Carried tier metrics → the [[columns]] tier schema: adds the
    * derived `char_len_avg`/`turn_rate` and projects to canonical order.
    * `df` must hold `conv_id`, `window_start` and the [[mergeAggs]]
    * outputs. */
  private[graft] def derived(df: DataFrame, tier: Tier): DataFrame =
    df.withColumn("char_len_avg", charLenAvg)
      .withColumn(
        "turn_rate",
        col("turn_count") * lit(1.0) / lit(tier.windowSeconds.toDouble))
      .select(columns.map(col): _*)

  /** Each raw turn as one row of the carried partials ([[stitchCols]],
    * plus `ts` for the caller's window), so that [[mergeAggs]], the list
    * that merges tier rows, also aggregates raw turns: in [[fromRaw]],
    * [[fromRawSalted]], the stitch's raw spans ([[rawParts]]),
    * [[sliding]], [[multiGranularity]] and the streaming tier
    * ([[graft.streaming.StreamingRollup.rollup]]). A null role or tool
    * counts 0; a null text has no length and no tokens, which the sums,
    * mins and maxes skip.
    */
  private[graft] def turnPartials(turns: DataFrame): DataFrame = {
    val charLen = length(col("text")).cast("long")
    def flag(p: Column): Column = when(p, 1L).otherwise(0L)
    turns.select(
      col("conv_id"), col("ts"),
      lit(1L).as("turn_count"),
      flag(col("role") === "user").as("user_turns"),
      flag(col("role") === "assistant").as("assistant_turns"),
      flag(col("tool").isNotNull).as("tool_calls"),
      charLen.as("char_len_sum"),
      charLen.as("char_len_min"),
      charLen.as("char_len_max"),
      size(split(col("text"), " ")).cast("long").as("token_sum"),
      col("turn_idx").as("min_turn_idx"),
      col("turn_idx").as("max_turn_idx"),
      col("text").as("first_text"),
      col("text").as("last_text"))
  }

  /** The decomposable-merge aggregate list — counts/sums add, min/max
    * nest, first/last resolve by the carried unique
    * `min_turn_idx`/`max_turn_idx` — and the ONE aggregate list: every
    * rollup merges per-turn rows ([[turnPartials]]) or tier rows with
    * it, so no two sites can drift. A site that keeps only some metrics
    * selects them after the merge, and Spark prunes the other merges
    * from the plan. Every entry also runs in streaming state
    * (`min_by`/`max_by` keep a (value, key) pair).
    */
  private def mergeAggs: Seq[Column] = Seq(
    sum(col("turn_count")).as("turn_count"),
    sum(col("user_turns")).as("user_turns"),
    sum(col("assistant_turns")).as("assistant_turns"),
    sum(col("tool_calls")).as("tool_calls"),
    sum(col("char_len_sum")).as("char_len_sum"),
    min(col("char_len_min")).as("char_len_min"),
    max(col("char_len_max")).as("char_len_max"),
    sum(col("token_sum")).as("token_sum"),
    min(col("min_turn_idx")).as("min_turn_idx"),
    max(col("max_turn_idx")).as("max_turn_idx"),
    min_by(col("first_text"), col("min_turn_idx")).as("first_text"),
    max_by(col("last_text"), col("max_turn_idx")).as("last_text"))

  /** `df`'s carried metrics merged per `keys` with [[mergeAggs]]. */
  private[graft] def mergeBy(df: DataFrame, keys: Column*): DataFrame =
    df.groupBy(keys: _*).agg(mergeAggs.head, mergeAggs.tail: _*)

  private def windowStart(ts: Column, tier: Tier): Column =
    window(ts, tier.windowExpr).getField("start").as("window_start")

  /** Raw turns → tier rollup. One shuffle on (conv_id, window). */
  def fromRaw(transcripts: DataFrame, tier: Tier): DataFrame =
    derived(mergeBy(turnPartials(transcripts),
      col("conv_id"), windowStart(col("ts"), tier)), tier)

  /** Tier k-1 rollup → tier k rollup, reading ONLY the finer tier. */
  def cascade(finer: DataFrame, to: Tier): DataFrame =
    derived(mergeBy(finer, col("conv_id"), windowStart(col("window_start"), to)), to)

  /** Skew-safe variant of [[fromRaw]]: two-phase aggregation with an
    * explicit salt so one hot conversation's window spreads over
    * `salts` reduce tasks before the (cheap) final merge. Both phases
    * are the same [[mergeBy]], so the output is identical to [[fromRaw]]
    * (asserted by RollupSpec).
    */
  def fromRawSalted(transcripts: DataFrame, tier: Tier, salts: Int): DataFrame = {
    val salted = turnPartials(transcripts).withColumn(
      "salt", pmod(hash(col("min_turn_idx")), lit(salts)))
    val phase1 = mergeBy(salted,
      col("conv_id"), windowStart(col("ts"), tier), col("salt"))
    derived(mergeBy(phase1, col("conv_id"), col("window_start")), tier)
  }

  /** Per-window tool-call frequencies as a narrow companion table
    * (conv_id, window_start, tool, n) — sparse and skew-friendly at
    * scale, vs a wide map column (north rule: "tool-call frequencies";
    * reference analogue: measurement extraction `Converter.java:138-155`).
    */
  def toolFreq(transcripts: DataFrame, tier: Tier): DataFrame =
    transcripts
      .filter(col("tool").isNotNull)
      .groupBy(
        col("conv_id"),
        window(col("ts"), tier.windowExpr).getField("start").as("window_start"),
        col("tool"))
      .agg(count(lit(1)).as("n"))

  /** Cascade for the tool-frequency companion table. */
  def toolFreqCascade(finer: DataFrame, to: Tier): DataFrame =
    finer
      .groupBy(
        col("conv_id"),
        window(col("window_start"), to.windowExpr).getField("start").as("window_start"),
        col("tool"))
      .agg(sum(col("n")).as("n"))

  /** Sliding (hopping) window rollup — the continuous-aggregate form
    * where windows OVERLAP (width > slide), e.g. "turns per trailing
    * hour, refreshed every 30 minutes". Spark's `window(ts, w, s)`
    * expands each turn into the w/s epoch-aligned windows containing
    * it (an Expand node, map-side — no extra shuffle) and then
    * aggregates with the same single (conv_id, window_start) exchange
    * as [[fromRaw]]; output volume is w/s × the tumbling tier, which
    * is why only four cheap decomposable metrics (their [[mergeAggs]]
    * entries over [[turnPartials]]) are carried here.
    * NOT cascadable (overlapping windows don't nest) — always computed
    * from raw, like the quantile companion.
    */
  def sliding(transcripts: DataFrame, windowExpr: String = "1 hour",
      slideExpr: String = "30 minutes"): DataFrame =
    mergeBy(turnPartials(transcripts), col("conv_id"),
      window(col("ts"), windowExpr, slideExpr).getField("start").as("window_start"))
      .select(Seq("conv_id", "window_start", "turn_count", "user_turns",
        "tool_calls", "char_len_sum").map(col): _*)
      .withColumn("char_len_avg", charLenAvg)

  /** Fixed-width histogram of turn length per GLOBAL time window — the
    * distribution tier dashboards heat-map (who sends long messages,
    * when). Buckets are `floor(char_len / bucketWidth)`; `pct` is the
    * bucket's share of its window. Scale: one partial-aggregated
    * (window, bucket) exchange over raw; the share window re-exchanges
    * only the AGGREGATED frame (windows × buckets rows — O(metadata)),
    * so the second exchange never sees raw data.
    */
  def charLenHistogram(transcripts: DataFrame, tier: Tier = Tier.H1,
      bucketWidth: Int = 50): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    import org.apache.spark.sql.expressions.{Window => W}
    transcripts
      .select(
        window(col("ts"), tier.windowExpr).getField("start").as("window_start"),
        floor(length(col("text")).cast("long") / lit(bucketWidth)).as("bucket"))
      .groupBy(col("window_start"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("pct",
        col("cnt").cast("double") /
          sum(col("cnt")).over(W.partitionBy(col("window_start"))))
  }

  /** Merge finer-tier histogram ARTIFACTS into a coarser tier — the
    * proof-by-construction that [[charLenHistogram]] is mergeable: the
    * 1h histogram is the 1m histograms with their window floored to
    * the hour and their counts SUMMED (`pct` recomputed from the merged
    * counts — ratios never merge), and the result is bit-identical to
    * computing the coarse histogram from raw. This is the read path a
    * 100 TB deployment actually runs: stored per-window bucket counts
    * (small: windows × buckets rows) roll up to any coarser grain
    * without touching raw — the same never-re-read-raw contract as
    * [[cascade]], extended from moments to distributions.
    *
    * Input: a [[charLenHistogram]] frame `(window_start, bucket, cnt,
    * pct)` at a tier FINER than `to` (window starts must be aligned,
    * which every tier in the cascade guarantees: 60 | 3600 | 86400).
    *
    * Plan: ONE exchange on the AGGREGATED frame (`(window', bucket)`
    * keys — metadata scale, raw is not in the plan at all) plus the
    * pct window over the same clustering; no joins.
    */
  def mergeHistogram(hist: DataFrame, to: Tier): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    hist
      .groupBy(
        window(col("window_start"), to.windowExpr).getField("start")
          .as("window_start"),
        col("bucket"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
      .withColumn("pct",
        col("cnt").cast("double") /
          sum(col("cnt")).over(W.partitionBy(col("window_start"))))
  }

  /** Read-time interpolated quantiles FROM the bucketed histogram —
    * the observability-stack classic (Prometheus `histogram_quantile`,
    * M3/statsd timers): bucket counts are the MERGEABLE artifact
    * (shards/days merge by summing counts — unlike raw quantiles,
    * which don't compose), and the quantile is reconstructed at read
    * time by linear interpolation inside the bucket where the
    * cumulative count crosses `q × total`. The price of mergeability
    * is resolution: the answer is exact only up to `bucketWidth`
    * (contrast [[charLenQuantiles]], exact but non-mergeable, and
    * [[charLenQuantilesApprox]], sketch-mergeable with rank error).
    *
    * Definition (mirrored verbatim by the oracle): per window with
    * buckets `b` of width `w`, counts `cnt`, running `cum`, and
    * `total`, the rank is `r = q × total` (double); the crossing
    * bucket is the unique one with `cum − cnt < r ≤ cum`, and the
    * value is `b·w + w × (r − (cum − cnt)) / cnt` — interpolating the
    * continuous rank across the bucket's span. `q = 1` lands on the
    * last bucket's upper edge; round-6 absorbs the double arithmetic.
    *
    * Output per window: `(window_start, turns, hq_p50, hq_p95)`.
    *
    * Plan: the ONE real exchange is the partial-aggregated
    * `(window, bucket)` histogram census over raw (identical to
    * [[charLenHistogram]] — collapsed map-side); the cumulative sum
    * and the per-quantile crossing pick run on the AGGREGATED frame
    * (windows × buckets rows, O(metadata)), one conditional-aggregate
    * pass, no joins. At 100 TB this is the cheapest quantile in the
    * family: raw rows are touched once, map-side.
    */
  def histogramQuantile(transcripts: DataFrame, tier: Tier = Tier.H1,
      bucketWidth: Int = 50): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    import org.apache.spark.sql.expressions.{Window => W}
    val wCum = W.partitionBy(col("window_start")).orderBy(col("bucket"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val wTot = W.partitionBy(col("window_start"))
    // null text has no length — it drops from the distribution (the
    // null bucket would otherwise sort differently across engines)
    val hist = transcripts
      .filter(col("text").isNotNull)
      .select(
        window(col("ts"), tier.windowExpr).getField("start").as("window_start"),
        floor(length(col("text")).cast("long") / lit(bucketWidth)).as("bucket"))
      .groupBy(col("window_start"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("total", sum(col("cnt")).over(wTot))
    def pick(q: Double): Column = {
      val r = lit(q) * col("total").cast("double")
      val cb = (col("cum") - col("cnt")).cast("double")
      val value = col("bucket").cast("double") * lit(bucketWidth.toDouble) +
        lit(bucketWidth.toDouble) * (r - cb) / col("cnt").cast("double")
      min(when(cb < r && r <= col("cum").cast("double"), value))
    }
    hist
      .groupBy(col("window_start"))
      .agg(
        max(col("total")).as("turns"),
        round(pick(0.5), 6).as("hq_p50"),
        round(pick(0.95), 6).as("hq_p95"))
  }

  /** Exact per-window quantiles of turn length — the distribution
    * companion the avg/min/max columns can't answer (p95 text length
    * per conversation-hour). Spark's `percentile` is the EXACT
    * interpolated aggregate (continuous index p·(n−1), linear
    * interpolation — the same type-7 definition as DuckDB's
    * `quantile_cont`, which the oracle uses), not the approximate
    * sketch; round-6 absorbs the one double-arithmetic step. NOT
    * cascadable (quantiles don't compose across windows — recompute
    * per tier from raw, which is why it is a separate table, not a
    * rollup column).
    *
    * Scale note: exact percentile BUFFERS every value of a group (the
    * ObjectHashAggregate holds the group's value list, spilling via
    * the sort-based fallback) — fine here because a group is one
    * conversation-window (thousands of turns at most), NOT
    * corpus-sized. For unbounded groups use
    * [[charLenQuantilesApprox]], whose sketch is O(1/accuracy) per
    * group regardless of group size.
    */
  def charLenQuantiles(transcripts: DataFrame, tier: Tier): DataFrame =
    transcripts
      .groupBy(
        col("conv_id"),
        window(col("ts"), tier.windowExpr).getField("start").as("window_start"))
      // ONE percentile aggregate with an array of fractions: two
      // scalar percentile calls each buffer (and sort) the group's
      // full value list independently — the array form buffers once
      // and reads both ranks from the same sorted list, with
      // value-identical interpolation
      .agg(expr("percentile(length(text), array(0.5D, 0.95D))").as("_p"))
      .select(col("conv_id"), col("window_start"),
        round(element_at(col("_p"), 1), 6).as("char_len_p50"),
        round(element_at(col("_p"), 2), 6).as("char_len_p95"))

  /** The scale sibling of [[charLenQuantiles]]: Spark's
    * `approx_percentile` (Greenwald-Khanna sketch) — constant state
    * per group, mergeable map-side, rank error ≤ 1/accuracy. Use when
    * a group can hold unbounded values (e.g. corpus-wide or per-day
    * distributions); bounded vs the exact form in RollupSpec.
    */
  def charLenQuantilesApprox(transcripts: DataFrame, tier: Tier,
      accuracy: Int = 10000): DataFrame =
    transcripts
      .groupBy(
        col("conv_id"),
        window(col("ts"), tier.windowExpr).getField("start").as("window_start"))
      // ONE sketch per group, both ranks read from it (the exact
      // sibling's array-fraction shape); DOUBLE like the exact
      // sibling: the two forms must stay schema-compatible so the
      // documented exact→approx migration doesn't break warehouse
      // appends or downstream readers
      .agg(expr(s"approx_percentile(length(text), array(0.5D, 0.95D), $accuracy)")
        .as("_p"))
      .select(col("conv_id"), col("window_start"),
        element_at(col("_p"), 1).cast("double").as("char_len_p50"),
        element_at(col("_p"), 2).cast("double").as("char_len_p95"))

  /** Multi-granularity continuous aggregate: the per-conversation AND
    * the corpus-wide per-window rollup from ONE scan via GROUPING SETS
    * `((conv_id, window), (window))` — the "materialize every
    * granularity the dashboards read" pattern a TSDB serves with
    * separate continuous aggregates, collapsed into one pass. `scope`
    * disambiguates (0 = conversation row, 1 = corpus row — `GROUPING
    * (conv_id)`), so a genuine null conv_id group (scope 0, conv_id
    * null) is never confused with the corpus row.
    *
    * Aggregates are three of [[mergeAggs]] over [[turnPartials]] — no
    * DISTINCT: Catalyst plans the set expansion map-side (`Expand`,
    * ×2 rows BEFORE partial aggregation) and both granularities
    * partial-aggregate into the SAME single exchange, so the wire
    * carries conv-level groups + window-level groups (~+ε over the
    * plain rollup); a distinct aggregate would force a second
    * expansion and a wider shuffle.
    *
    * Same null doctrine as [[fromRaw]]: nothing is filtered, null keys
    * group as null in both engines.
    */
  def multiGranularity(transcripts: DataFrame, tier: Tier): DataFrame =
    turnPartials(transcripts)
      .withColumn("window_start", windowStart(col("ts"), tier))
      .groupingSets(
        Seq(Seq(col("conv_id"), col("window_start")), Seq(col("window_start"))),
        col("conv_id"), col("window_start"))
      .agg(grouping(col("conv_id")).cast("int").as("scope"), mergeAggs: _*)
      .select(Seq("scope", "conv_id", "window_start", "turn_count",
        "tool_calls", "char_len_sum").map(col): _*)

  /** The additive/decomposable metric columns a stitch merges — derived
    * from [[columns]] (not retyped) so a new tier metric flows into
    * stitching automatically or fails the merge loudly. */
  private val stitchCols: Seq[String] =
    columns.filterNot(Set("window_start", "char_len_avg", "turn_rate"))

  /** Tier-ladder decomposition of the half-open range `[from, to)`
    * into the minimal cover of aligned tier windows plus raw edges —
    * the read side of a continuous-aggregate engine (TimescaleDB
    * real-time aggregates, Druid granularity descent): whole days are
    * answered from the 1d table, the remaining whole hours from 1h,
    * whole minutes from 1m, and only the sub-minute edges ever touch
    * raw turns.
    *
    * All tiers are epoch-aligned on the naive UTC timeline (Spark's
    * `window()` floor; a day is exactly 86400 s — no zones, no DST),
    * so coarser windows nest exactly in finer ones and a recursive
    * descent is sound: at each granularity, emit the maximal aligned
    * middle `[ceil(from), floor(to))` if non-empty and recurse on the
    * two remainders one level finer. At most 2 slices per finer tier
    * + 1 day run + 2 raw edges, disjoint, ordered, covering exactly
    * `[from, to)` (StitchSpec pins all four properties).
    */
  def rangeSlices(from: java.time.LocalDateTime, to: java.time.LocalDateTime)
      : Seq[(String, java.time.LocalDateTime, java.time.LocalDateTime)] = {
    import java.time.temporal.ChronoUnit
    require(!to.isBefore(from), s"empty/inverted range: [$from, $to)")
    val ladder = Seq(("1d", ChronoUnit.DAYS), ("1h", ChronoUnit.HOURS),
      ("1m", ChronoUnit.MINUTES))
    def ceil(t: java.time.LocalDateTime, u: ChronoUnit) = {
      val f = t.truncatedTo(u)
      if (f == t) t else f.plus(1, u)
    }
    def go(lo: java.time.LocalDateTime, hi: java.time.LocalDateTime,
        lvl: Int): Seq[(String, java.time.LocalDateTime, java.time.LocalDateTime)] =
      if (!lo.isBefore(hi)) Nil
      else if (lvl == ladder.length) Seq(("raw", lo, hi))
      else {
        val (tier, u) = ladder(lvl)
        val a = ceil(lo, u)
        val b = hi.truncatedTo(u)
        if (a.isBefore(b))
          go(lo, a, lvl + 1) ++ Seq((tier, a, b)) ++ go(b, hi, lvl + 1)
        else go(lo, hi, lvl + 1)
      }
    go(from, to, 0)
  }

  /** Arbitrary-range continuous aggregate served FROM the rollup
    * cascade: per-conversation totals over `[from, to)` (ISO-ish
    * `yyyy-MM-dd HH:mm:ss`, naive UTC) computed by stitching the
    * [[rangeSlices]] cover — 1d windows for whole days, 1h / 1m for
    * the edges, raw turns only for the sub-minute remainders — and
    * merging the decomposable metrics exactly as [[cascade]] does
    * (counts/sums add, min/max nest, first/last resolve by the unique
    * carried turn_idx). Output ≡ aggregating raw over the range
    * directly (the driver oracle), but a 30-day query touches ~30 1d
    * rows + ≤46 hour rows + ≤118 minute rows + ≤2 minutes of raw per
    * conversation instead of every turn.
    *
    * Plan/scale: the tier tables are filtered on `window_start` —
    * partition-prunable predicates against stored rollups in a real
    * deployment (here the cascade is recomputed per the driver
    * contract, with the range predicate pushed to the raw scan:
    * tiers are built only from `[floor-minute(from), to)`). The union
    * merges tier slices, which are already per-(conv, window)
    * aggregates, with the ≤2 sub-minute edges' turns, so the final
    * groupBy(conv_id) exchanges O(windows in range) plus ≤2 minutes of
    * turns, both partially merged map-side.
    */
  def stitchRange(transcripts: DataFrame, fromTs: String, toTs: String)
      : DataFrame = {
    // the boundary-literal cast parses in the SESSION zone for zoned
    // TimestampType while window() stays epoch-aligned — the TimeArith
    // doctrine lives in parseStitchBounds, SHARED with the stored and
    // serving modes so the boundary contract (whole seconds,
    // input-flavor cast, UTC guard) has one definition
    val (from, to) = parseStitchBounds(transcripts, fromTs, toTs)
    val slices = rangeSlices(from, to)
    val tsType = transcripts.schema("ts").dataType
    def ntz(t: java.time.LocalDateTime): Column = stitchBound(t, tsType)
    // tiers only ever serve windows inside [floor-minute(from), to):
    // push that range onto the raw scan before the 1m aggregation.
    // In a deployment the tiers are STORED tables (one scan each); in
    // recompute mode the checkpoints stand in for them — without them
    // every union branch re-aggregates raw→1m(→1h) independently and
    // the raw table is scanned once per slice (7× for a ragged range).
    // localCheckpoint, NOT persist (the toolLeadLag rationale,
    // SeriesOps): the frame is returned lazily, so a persist here
    // would register CacheManager entries nothing can ever unpersist —
    // repeated tier_stitch calls in a long session would pin blocks
    // without bound. Checkpoint blocks free with the RDD once the
    // result is GC'd; the eager build is the price of the stored-tier
    // stand-in and is LAZY here (an empty/sub-minute range never pays it)
    lazy val m1 = fromRaw(
      transcripts.filter(
        col("ts") >= ntz(from.truncatedTo(java.time.temporal.ChronoUnit.MINUTES)) &&
          col("ts") < ntz(to)),
      Tier.M1).localCheckpoint()
    // h1 stays checkpointed: an r6 experiment made it lazy (both
    // consumers re-aggregating the checkpointed m1) and measured
    // SLOWER (1.63 s vs 1.35 s) — the duplicate cascade + larger final
    // plan cost more than the one materialization job they avoid
    lazy val h1 = cascade(m1, Tier.H1).localCheckpoint()
    lazy val d1 = cascade(h1, Tier.D1)
    // both sub-minute raw edges (a ragged range has two) come from ONE
    // raw derivation via rawParts — each edge as its own branch re-ran
    // the full scan + conv window per edge
    val rawCombined = rawParts(transcripts,
      slices.collect { case ("raw", lo, hi) => (lo, hi) })
    val parts = rawCombined ++ slices.collect {
      case (tier, lo, hi) if tier != "raw" =>
        val t = tier match {
          case "1m" => m1; case "1h" => h1; case _ => d1
        }
        t.filter(col("window_start") >= ntz(lo) && col("window_start") < ntz(hi))
          .select(stitchCols.map(col): _*)
    }
    stitchMerge(parts, transcripts, onePartition = false)
  }

  /** [[stitchRange]] served from STORED warehouse tiers — the
    * deployment read path a continuous-aggregate engine exists for
    * (the reference built its per-window tablets to be read back,
    * `IoTDBWriter.java:147-185`; TimescaleDB answers real-time
    * aggregates the same way): [[graft.jobs.RollupJob]] has already
    * materialized `rollup_1m/1h/1d` as day-partitioned
    * [[graft.table.SnapshotTable]]s, so each tier table is read ONCE
    * per query, however many [[rangeSlices]] slices it serves (a
    * ragged range has two 1h and two 1m slices): one manifest-pruned
    * scan per tier, in which only the day partitions overlapping that
    * tier's slices are even LISTED, then one `window_start` filter (the
    * OR of the tier's slices) trims to the slices inside those days.
    * The union thus has at most 3 tier branches plus the raw edges,
    * and planning starts no Spark job
    * ([[graft.table.SnapshotTable.readFiles]] takes the schema from a
    * footer and the file list from the manifest).
    * Raw turns are touched exclusively by the ≤2 sub-minute edge
    * slices (an aligned range reads NO raw file at all — plan-pinned
    * in StitchSpec); the per-call tier recompute + localCheckpoint
    * that dominates [[stitchRange]]'s cost disappears entirely.
    *
    * Identities: output ≡ [[stitchRange]] ≡ direct raw aggregation
    * over `[from, to)` (the q140/q141 oracle), because the stored
    * tiers are the same [[fromRaw]]/[[cascade]] frames the recompute
    * mode derives — [[graft.jobs.RollupJob]] commits exactly those.
    *
    * Plan/scale: a 30-day query plans O(30) day partitions across
    * three manifests (driver metadata, no file listing or status
    * call) and scans O(windows-in-range) rollup rows. Each tier's
    * `window_start` filter, and the raw edges' `ts` filter, is one
    * range-independent predicate ([[inSpans]]), so every range runs the
    * same compiled classes.
    * With no raw part, and tier bytes that fit the smallest split
    * Spark's file scan ever makes (`spark.sql.files.openCostInBytes`,
    * 4 MB by default, capped by `spark.sql.files.maxPartitionBytes`),
    * the merge reads the union as one partition and the query is ONE
    * Spark job with no exchange; otherwise only the final
    * per-conversation merge shuffles (see [[stitchMerge]]). The
    * warehouse's day watermark discipline (closed days recompute on
    * late arrivals) means serving from tiers is exact, not
    * approximate — the stitch inherits the job's correctness
    * contract rather than re-deriving it per query.
    *
    * Days with no committed partition (quiet days inside the range)
    * contribute no files; a tier with no file in the range's days
    * contributes no branch (zero rows ≡ zero contribution to the
    * merge).
    */
  def stitchRangeStored(spark: org.apache.spark.sql.SparkSession,
      m1Table: graft.table.SnapshotTable,
      h1Table: graft.table.SnapshotTable,
      d1Table: graft.table.SnapshotTable,
      transcripts: DataFrame, fromTs: String, toTs: String): DataFrame = {
    val (from, to) = parseStitchBounds(transcripts, fromTs, toTs)
    val (parts, onePartition) =
      storedParts(spark, m1Table, h1Table, d1Table, transcripts, from, to, Nil)
    stitchMerge(parts, transcripts, onePartition)
  }

  private def parseStitchBounds(transcripts: DataFrame, fromTs: String,
      toTs: String): (java.time.LocalDateTime, java.time.LocalDateTime) = {
    graft.operators.TimeArith.requireUtcForCalendar(transcripts, "ts")
    val from = java.time.LocalDateTime.parse(fromTs.replace(' ', 'T'))
    val to = java.time.LocalDateTime.parse(toTs.replace(' ', 'T'))
    require(from.getNano == 0 && to.getNano == 0,
      s"stitch boundaries must be whole seconds ('yyyy-MM-dd HH:mm:ss'): [$fromTs, $toTs)")
    (from, to)
  }

  private[rollup] val stitchFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss")

  // boundary literals cast to EACH frame's own timestamp flavor
  // (stored tiers may be zoned while the raw input is NTZ; both are
  // naive-UTC under the parse guard + the writer's UTC session)
  private def stitchBound(t: java.time.LocalDateTime,
      dt: org.apache.spark.sql.types.DataType): Column =
    lit(t.format(stitchFmt)).cast(dt)

  /** Raw-served spans (the ladder's sub-minute edges, or the serving
    * mode's live tail) as ONE stitch-mergeable frame, none for no
    * spans: the turns of the union of the spans, each as its own
    * [[turnPartials]] row, with no aggregate of their own —
    * [[stitchMerge]]'s one `groupBy(conv_id)` merges them with the tier
    * rows, so a raw part adds no exchange. A ragged range has up to two
    * sub-minute raw edges, and deriving each as its own frame would
    * re-run the ENTIRE transcripts derivation (scan + conv exchange +
    * row-number window — the ts filter cannot push below the window
    * because turn identity is a whole-conversation function) once per
    * edge; one frame filtered to the union derives it once.
    */
  private def rawParts(transcripts: DataFrame,
      spans: Seq[(java.time.LocalDateTime, java.time.LocalDateTime)])
      : Seq[DataFrame] =
    if (spans.isEmpty) Seq.empty
    else Seq(rawPartials(transcripts.filter(inSpans("ts", spans))))

  /** [[turnPartials]] in the [[stitchCols]] layout the stitch unions. */
  private def rawPartials(turns: DataFrame): DataFrame =
    turnPartials(turns).select(stitchCols.map(col): _*)

  /** A zoned or NTZ timestamp column `c` falls in one of the disjoint
    * `[lo, hi)` spans (non-empty): one [[InSpans]] predicate over the
    * spans' UTC epoch micros (the stitch's UTC guard makes a zoned and a
    * naive timestamp of the same wall time the same micros), selecting
    * what the OR of `c >= lo AND c < hi` over literal bounds would. The
    * bounds reach generated code as reference objects, so every range
    * compiles to the same classes: literal bounds are inlined into
    * generated code, so each range would compile its own (about 6), and
    * a pool of recurring ranges outgrows Spark's codegen cache. Parquet
    * cannot push it down, and no read here would use that: the manifest
    * already prunes a tier read to the range's days, tier files are
    * sorted by `conv_id`, so `window_start` statistics skip nothing
    * inside a day, and the raw `ts` filter sits above the derivation's
    * `row_number` window ([[rawParts]]), out of the scan's reach.
    */
  private[rollup] def inSpans(c: String,
      spans: Seq[(java.time.LocalDateTime, java.time.LocalDateTime)]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
    def micros(t: java.time.LocalDateTime): Long =
      t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    column(InSpans(expression(col(c)),
      spans.map(s => micros(s._1)).toArray, spans.map(s => micros(s._2)).toArray))
  }

  /** Ladder slices of [from, to) as stitch-mergeable frames: ONE read
    * per tier table covering all of that tier's slices, pruned in the
    * manifest to the union of their days and filtered on the OR of
    * their `window_start` ranges ([[inSpans]]); raw only for sub-minute
    * edges and the caller's `rawTail` spans, all derived in ONE
    * [[rawParts]] pass. The flag says whether [[stitchMerge]] may merge
    * in one partition: no raw part, and the tier files' manifest bytes
    * fit the smallest split Spark's file scan ever makes
    * ([[org.apache.spark.sql.graftbridge.Bridge.minSplitBytes]]). See
    * [[stitchRangeStored]] for the contract.
    */
  private def storedParts(spark: org.apache.spark.sql.SparkSession,
      m1Table: graft.table.SnapshotTable,
      h1Table: graft.table.SnapshotTable,
      d1Table: graft.table.SnapshotTable,
      transcripts: DataFrame,
      from: java.time.LocalDateTime,
      to: java.time.LocalDateTime,
      rawTail: Seq[(java.time.LocalDateTime, java.time.LocalDateTime)])
      : (Seq[DataFrame], Boolean) = {
    // day partitions overlapping [lo, hi): hi is exclusive and minute-
    // aligned or coarser, so the last contributing window starts
    // strictly before hi — minusSeconds(1) lands in its day
    def dayParts(lo: java.time.LocalDateTime,
        hi: java.time.LocalDateTime): Set[String] = {
      val last = hi.minusSeconds(1).toLocalDate
      Iterator.iterate(lo.toLocalDate)(_.plusDays(1))
        .takeWhile(!_.isAfter(last)).map(_.toString).toSet
    }
    val slices = rangeSlices(from, to)
    // the ≤2 sub-minute raw edges and the tail come from ONE raw
    // derivation (rawParts) instead of one full scan + conv window EACH
    val rawCombined = rawParts(transcripts,
      slices.collect { case ("raw", lo, hi) => (lo, hi) } ++ rawTail)
    val tierParts = Seq("1d" -> d1Table, "1h" -> h1Table, "1m" -> m1Table).flatMap {
      case (tier, table) =>
        val spans = slices.collect { case (`tier`, lo, hi) => (lo, hi) }
        // no files: no committed partition in the range's days
        val files =
          if (spans.isEmpty) Nil
          else table.planFiles(Some(spans.flatMap { case (lo, hi) => dayParts(lo, hi) }.toSet))
        if (files.isEmpty) None
        else Some((table.readFiles(spark, files).filter(inSpans("window_start", spans))
          .select(stitchCols.map(col): _*), files))
    }
    val tierFiles = tierParts.flatMap(_._2)
    val onePartition = rawCombined.isEmpty && tierFiles.nonEmpty &&
      tierFiles.map(_.bytes).sum <= org.apache.spark.sql.graftbridge.Bridge.minSplitBytes(spark)
    (rawCombined ++ tierParts.map(_._1), onePartition)
  }

  /** The one stitch merge behind [[stitchRange]], [[stitchRangeStored]]
    * and [[stitchRangeServing]]: slice frames in [[stitchCols]] — tier
    * rows and raw [[turnPartials]] rows alike — merged per conversation
    * with [[mergeAggs]]; no slices → the empty frame of the same schema.
    * `onePartition` (a stored prefix with no raw part, whose bytes fit
    * the smallest split Spark's file scan ever makes) reads the union
    * as ONE partition: the merge's clustering is then
    * already met, so the plan has no exchange and the query runs as one
    * Spark job with nothing for AQE to re-plan. Otherwise the merge
    * exchanges on `conv_id` — what a raw edge or tail needs, and what
    * keeps a larger prefix spread over the cores as Spark's scan
    * spreads it.
    */
  private def stitchMerge(parts: Seq[DataFrame], transcripts: DataFrame,
      onePartition: Boolean): DataFrame = {
    val unioned = parts.reduceOption(_ union _)
      .getOrElse(rawPartials(transcripts.filter(lit(false))))
    mergeBy(if (onePartition) unioned.coalesce(1) else unioned, col("conv_id"))
      .withColumn("char_len_avg", charLenAvg)
  }

  /** REAL-TIME serving mode — the TimescaleDB real-time-aggregate
    * semantics that completes the continuous-aggregate story: answer
    * `[from, to)` from the stored tiers for every day the warehouse
    * has CLOSED, and from raw transcripts for the live tail the
    * rollup job has not finalized yet. The split point is derived
    * from the warehouse's OWN state: the serving horizon is the first
    * day in the range without a COMPLETED checkpoint in ALL of
    * 1m/1h/1d. Ahead of the horizon nothing is trusted: IN_PROGRESS
    * days may be partially committed, so the tail [horizon, to) reads
    * raw — LAG (how far the rollup job has gotten) never affects
    * correctness. The tail and the prefix's sub-minute edge share one
    * raw derivation ([[rawParts]]).
    *
    * Identity: output ≡ direct raw aggregation over the range for any
    * warehouse lag, PROVIDED closed days are census-stable — the
    * standard continuous-aggregate consistency contract. A LATE row
    * landing in an already-CLOSED day is not visible here until the
    * next [[graft.jobs.RollupJob]] run heals it (the census compare
    * marks the day dirty and recomputes every tier); until then this
    * read serves the answer that warehouse version committed, exactly
    * as any reader of the materialized tiers would. Detecting the
    * drift at READ time would cost a raw census scan per query — the
    * write path owns that job. (StitchSpec pins a mid-range horizon,
    * an all-closed range ≡ [[stitchRangeStored]], an all-open range,
    * and the stale-closed-day contract.) Cost
    * degrades gracefully from all-tiers (fully closed) to all-raw
    * (cold warehouse): the stored prefix pays O(windows), only the
    * tail scans turns — and the tail is bounded by the job's commit
    * lag, typically the single open boundary day.
    *
    * QUIET-DAY caveat (cost, not correctness): the horizon stops at
    * the FIRST range day lacking COMPLETED checkpoints in all three
    * tiers. A mid-range day with no input rows never gets a
    * checkpoint (the rollup job only checkpoints days it saw), so
    * such a day forces the entire remainder of the range onto the
    * raw path — the answer is still exact (raw is ground truth), but
    * a range spanning a quiet day pays raw-scan cost for its whole
    * tail. Deployments with legitimately quiet days should have the
    * rollup job commit an explicit empty COMPLETED partition for
    * every day inside its watermark (closing days by census, not by
    * presence), which restores the stored prefix; inferring closure
    * at READ time would require a raw census scan per query, which
    * this read path deliberately never does.
    */
  def stitchRangeServing(spark: org.apache.spark.sql.SparkSession,
      m1Table: graft.table.SnapshotTable,
      h1Table: graft.table.SnapshotTable,
      d1Table: graft.table.SnapshotTable,
      state: graft.state.StateStore,
      transcripts: DataFrame, fromTs: String, toTs: String): DataFrame = {
    val (from, to) = parseStitchBounds(transcripts, fromTs, toTs)
    val cps = state.checkpoints
    val closedAll = Seq("1m", "1h", "1d")
      .map(state.completedPartitions(_, cps)).reduce(_ intersect _)
    // first day >= from not closed in every tier; scan stops at `to`
    var day = from.toLocalDate
    while (day.atStartOfDay.isBefore(to) && closedAll.contains(day.toString))
      day = day.plusDays(1)
    val horizon = day.atStartOfDay
    val cut =
      if (horizon.isBefore(from)) from
      else if (horizon.isAfter(to)) to else horizon
    // the tail joins the stored prefix's sub-minute edges in one raw
    // derivation; rangeSlices of an empty prefix is empty
    val tail = if (to.isAfter(cut)) Seq((cut, to)) else Nil
    val (parts, onePartition) =
      storedParts(spark, m1Table, h1Table, d1Table, transcripts, from, cut, tail)
    stitchMerge(parts, transcripts, onePartition)
  }
}

/** Native predicate: a timestamp (zoned or NTZ: both are epoch micros)
  * lies in one of the half-open spans `[los(i), his(i))`. The spans
  * reach generated code through `ctx.addReferenceObj`, so the generated
  * source does not depend on them (see [[Rollup.inSpans]]). Null in →
  * null out; `eval` and codegen both call [[InSpans.contains]].
  */
case class InSpans(child: Expression, los: Array[Long], his: Array[Long])
    extends UnaryExpression with Predicate {
  require(los.length == his.length, "every span needs both bounds")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case TimestampType | TimestampNTZType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"in_spans expects a timestamp, got $other")
  }
  override def nullSafeEval(v: Any): Any = InSpans.contains(v.asInstanceOf[Long], los, his)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("spanLos", los, "long[]")
    val h = ctx.addReferenceObj("spanHis", his, "long[]")
    defineCodeGen(ctx, ev, v => s"graft.rollup.InSpans.contains($v, $l, $h)")
  }
  // plan text names the spans (the default would print array identities)
  override def toString: String = {
    def show(us: Long) = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), 0, java.time.ZoneOffset.UTC).format(Rollup.stitchFmt)
    los.indices.map(i => s"[${show(los(i))}, ${show(his(i))})")
      .mkString(s"$child IN SPANS (", ", ", ")")
  }
  override protected def withNewChildInternal(newChild: Expression): InSpans =
    copy(child = newChild)
}

object InSpans {
  /** `v` lies in some `[los(i), his(i))`. */
  def contains(v: Long, los: Array[Long], his: Array[Long]): Boolean = {
    var i = 0
    while (i < los.length) {
      if (v >= los(i) && v < his(i)) return true
      i += 1
    }
    false
  }
}
