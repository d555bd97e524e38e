package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Series-shape operators over the canonical transcripts table: OHLC
  * candles (the classic financial downsample, here over turn length),
  * day-over-day deltas (period-over-period change detection on the
  * daily rollup), and gap reports (missing-data detection — the
  * row-level sibling of [[Sessionize]]'s aggregation).
  *
  * Family doctrine (shared with [[RefOps]]'s timeseries block):
  * integer moments until the last projection, fixed-shape double
  * expressions whose DuckDB oracles mirror the operand order verbatim,
  * null ts drops the observation wherever ts is the axis, null
  * turn_idx drops it wherever turn order or output identity needs the
  * key, and every operator is a ONE-conv_id-exchange plan (or cheaper)
  * so the shapes survive a 10¹²-turn input.
  *
  * Reference analogue: these extend the rollup surface the reference
  * computes point-by-point on ingest (`IoTDBWriter.java` insert path);
  * the reference has no windowed analytics at all, so semantics here
  * are defined by this engine and pinned by the DuckDB oracles.
  */
object SeriesOps {

  /** 10-year cap on second-granularity tunables — a wild literal should
    * fail analysis, not overflow µs longs at runtime ([[RefOps.burstFlags]]
    * rationale).
    */
  private val capS = 315360000L

  /** OHLC candles over turn length per (conv_id, tumbling window):
    * open/close are the char lengths of the window's FIRST/LAST turn in
    * canonical turn order, high/low the extremes, plus the sample count
    * and the high−low range — the standard candlestick downsample that
    * preserves trend direction (open vs close) and volatility (range)
    * where a plain avg rollup flattens both.
    *
    * Order key: turn_idx ALONE — within a conversation turn_idx is the
    * unique canonical order ([[RefOps.ewma]] input contract) and is
    * consistent with time order by construction
    * ([[graft.ingest.Transcripts.fromEvents]] derives it from
    * `(ts, event_id)`), so `min_by`/`max_by` on it are deterministic
    * with no tiebreak column; the oracle's ARG_MIN/ARG_MAX see the
    * identical unique key.
    *
    * Windowing is the µs-floor idiom ([[graft.rollup.Rollup.sliding]]):
    * integer arithmetic on epoch micros, no calendar fields, so only
    * the NTZ zone guard applies.
    *
    * Null doctrine: the candle summarizes the char_len SIGNAL, so a
    * null text is a missing sample with no place on the value axis and
    * drops the whole observation ([[RefOps.timeWeightedAvg]]
    * semantics — an endpoint must be a real sample, not a NULL that
    * poisons open/close); null ts cannot be placed on the time axis
    * and null turn_idx cannot be ordered — both drop.
    *
    * All five outputs are exact longs — no doubles anywhere, so the
    * oracle match is trivially bit-exact.
    *
    * Scale: ONE partial-aggregated (conv_id, window_start) exchange —
    * min_by/max_by carry (value, key) pairs through the map-side
    * combine, so the shuffle moves one collapsed row per candle, far
    * below raw-row volume.
    */
  def ohlcCandles(transcripts: DataFrame, windowSeconds: Long = 3600L): DataFrame = {
    require(windowSeconds > 0 && windowSeconds <= capS,
      s"windowSeconds must be in (0, $capS], got $windowSeconds")
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val wUs = windowSeconds * 1000000L
    val us = unix_micros(col("ts").cast("timestamp"))
    transcripts
      .filter(col("ts").isNotNull && col("turn_idx").isNotNull &&
        col("text").isNotNull)
      .select(
        col("conv_id"),
        timestamp_micros(us - pmod(us, lit(wUs))).as("window_start"),
        col("turn_idx"),
        length(col("text")).cast("long").as("char_len"))
      .groupBy(col("conv_id"), col("window_start"))
      .agg(
        count(lit(1)).as("n_samples"),
        min_by(col("char_len"), col("turn_idx")).as("open_len"),
        max(col("char_len")).as("high_len"),
        min(col("char_len")).as("low_len"),
        max_by(col("char_len"), col("turn_idx")).as("close_len"))
      .withColumn("hl_range", col("high_len") - col("low_len"))
  }

  /** Day-over-day turn-count deltas per conversation: the daily
    * activity series with its previous-day value, absolute change, and
    * relative change — the period-over-period comparison every
    * monitoring dashboard runs on a rollup ("did this agent's traffic
    * double overnight?"). Days are µs-floored UTC days (identical to
    * DATE_TRUNC('day') under the pinned UTC session, but calendar-free
    * so only the NTZ guard applies).
    *
    * "Previous day" is the previous OBSERVED day in the series, not
    * day−1: activity series at this grain are sparse (most convs are
    * idle most days) and a LOCF-style comparison against the last
    * active day is the standard reading; a strict calendar-adjacent
    * variant is one gap-fill away ([[graft.gapfill.GapFill]]).
    *
    * turn_count and delta are exact longs; pct_change is ONE division
    * of the two longs both cast to double, rounded 6 — the
    * [[RefOps.toolDiversity]] fixed-shape idiom. The first observed day
    * has no predecessor: prev/delta/pct pin NULL.
    *
    * Null ts drops the observation (time axis); turn_idx/role/text play
    * no part (pure counting), so their nulls keep their rows — same
    * census semantics as the rollup tiers.
    *
    * Scale: the daily groupBy partial-aggregates map-side and exchanges
    * one row per (conv, day); the lag window then re-exchanges only
    * that collapsed frame on conv_id — the
    * [[graft.rollup.Rollup.charLenHistogram]] two-exchange shape (one
    * real but collapsed, one metadata-scale).
    * Deliberately NOT the pre-repartition one-exchange form: at 10¹²
    * turns a conv_id repartition of RAW rows moves the full corpus,
    * while this plan's first exchange moves ~one row per conv-day.
    */
  def dailyDeltas(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val daily = transcripts
      .filter(col("ts").isNotNull)
      .select(
        col("conv_id"),
        dayStartCol.as("day_start"))
      .groupBy(col("conv_id"), col("day_start"))
      .agg(count(lit(1)).as("turn_count"))
    val w = Window.partitionBy(col("conv_id")).orderBy(col("day_start"))
    daily
      .withColumn("prev_count", lag(col("turn_count"), 1).over(w))
      .withColumn("delta", col("turn_count") - col("prev_count"))
      .withColumn("pct_change",
        round(col("delta").cast("double") / col("prev_count").cast("double"), 6))
  }

  /** PAA + SAX symbolization of the per-conversation turn-length
    * series (Lin/Keogh et al., "Experiencing SAX", DMKD 2007 — public
    * method): the series is split into `segments` equal index ranges,
    * each range reduced to its mean (Piecewise Aggregate
    * Approximation), and each mean z-scored against the WHOLE
    * conversation's moments and binned into a 4-letter alphabet at the
    * standard-normal quartile breakpoints ±0.6744897501960817 and 0 —
    * the shape signature that makes series comparable by edit distance
    * and groupable by motif, which no rollup tier preserves.
    *
    * Variant pinned here (and mirrored by the oracle): z-normalization
    * is applied to the SEGMENT MEANS using per-conversation population
    * moments, not to raw points pre-PAA — this keeps every aggregate an
    * exact integer sum (n, Σx, Σx² and per-segment count/sum are all
    * longs) so the only doubles are fixed-shape expressions over
    * identical integers in both engines: paa = one division, μ = one
    * division, σ² = the (Σx² − Σx·Σx/n)/n shape, z = one subtract +
    * one divide. Casts of >2⁵³ integers round — identically in both
    * engines, which is what hash-exactness needs ([[RefOps]] family
    * doctrine). Long envelope: Σx² would exit Long for ~10⁶-turn
    * conversations of ~3·10⁶-char texts, where Spark's non-ANSI long
    * sum wraps SILENTLY while the oracle's HUGEINT sum does not — so
    * Σx² accumulates in decimal(38,0) (the [[RefOps.timeWeightedAvg]]
    * overflow idiom; exact to 38 digits, far past any real corpus) and
    * the oracle keeps DuckDB's native HUGEINT: both cast to double by
    * round-to-nearest of the same exact integer. A numerically
    * non-positive σ² (constant series) pins z = 0 → symbol 'c' instead
    * of reaching sqrt/division.
    *
    * Segment index is exact integer arithmetic:
    * `((rank − 1) · segments) div n` over the unique turn_idx order —
    * no float floor anywhere.
    *
    * Null doctrine: the series is the char_len SIGNAL — null text is a
    * missing sample and drops the observation whole
    * ([[RefOps.timeWeightedAvg]] semantics); null turn_idx cannot be
    * ordered and drops; ts plays no part (index-based representation).
    *
    * Scale: ONE conv_id exchange — row_number and the two unordered
    * moment windows share it, and the (conv, seg) groupBy is a
    * conv-local refinement of the key ([[RefOps.roleRuns]] clustering
    * argument). Output is ≤ `segments` rows per conversation.
    */
  def paaSax(transcripts: DataFrame, segments: Int = 8): DataFrame = {
    require(segments >= 2 && segments <= 64,
      s"segments must be in [2, 64], got $segments")
    val b = 0.6744897501960817 // standard-normal upper quartile
    val wOrd = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val wAll = Window.partitionBy(col("conv_id"))
    // the square is projected BEFORE the windows so the three moment
    // aggregates land in ONE Window node (the [[RefOps.rollingZscore]]
    // CollapseWindow guard — an inline product forces a Project between
    // Window nodes and a second full pass)
    val base = transcripts
      .filter(col("turn_idx").isNotNull && col("text").isNotNull)
      .select(col("conv_id"), col("turn_idx"),
        length(col("text")).cast("long").as("char_len"))
      .withColumn("_sq", (col("char_len") * col("char_len")).cast("decimal(38,0)"))
      .withColumn("_rn", row_number().over(wOrd).cast("long"))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_s", sum(col("char_len")).over(wAll))
      .withColumn("_ss", sum(col("_sq")).over(wAll))
      .withColumn("seg",
        expr(s"((_rn - 1) * ${segments}L) div _n"))
    val g = base
      .groupBy(col("conv_id"), col("seg"))
      .agg(
        count(lit(1)).as("n_in_seg"),
        sum(col("char_len")).as("_seg_sum"),
        min(col("_n")).as("_cn"),
        min(col("_s")).as("_cs"),
        min(col("_ss")).as("_css"))
    val paa = col("_seg_sum").cast("double") / col("n_in_seg").cast("double")
    val mu = col("_cs").cast("double") / col("_cn").cast("double")
    val variance =
      (col("_css").cast("double") -
        col("_cs").cast("double") * col("_cs").cast("double") /
          col("_cn").cast("double")) / col("_cn").cast("double")
    val z = when(variance > 0, (paa - mu) / sqrt(variance)).otherwise(lit(0.0))
    g.select(
      col("conv_id"), col("seg"), col("n_in_seg"),
      round(paa, 6).as("paa"),
      round(z, 6).as("z"),
      when(z < -b, "a").when(z < 0, "b").when(z < b, "c").otherwise("d")
        .as("symbol"))
  }

  /** Theil-Sen robust trend per conversation: the median of all
    * pairwise slopes `(len_j − len_i)/(idx_j − idx_i)` over the
    * trailing `tailK` turns of the char_len series — the
    * breakdown-point-0.29 slope estimator a single pathological turn
    * cannot drag, where the Pearson-based [[RefOps.lengthDriftCorr]]
    * only grades association. Tail-limited because the estimator is
    * inherently O(n²) per key: `tailK = 32` bounds it at 496 slopes
    * per conversation — the recency-weighted reading a trend monitor
    * wants anyway — and the cap makes the quadratic structurally
    * harmless at 10¹² turns (blow-ups are prevented by construction,
    * not by hoping).
    *
    * "Median" is the LOWER-median convention — the element at 1-based
    * position `(m+1) div 2` of the sorted slope list: an EXACT sample
    * element, deliberately not the interpolated type-7 midpoint,
    * because averaging two arbitrary doubles is engine-shape-sensitive
    * while sorting + extraction is bit-exact by construction (each
    * slope is one long-subtract/long-subtract division, identical in
    * both engines).
    *
    * Pair generation never joins: the tail gathers into ONE sorted
    * array per conversation ([[RefOps.ewma]] gather envelope, here
    * ≤ tailK structs) and nested array transforms emit the slopes —
    * the DuckDB oracle runs an equivalent self-join instead, same
    * multiset either way. Plan: ONE conv_id exchange shared by the
    * tail row_number and the gather; no second pass, no join.
    *
    * Null doctrine: null text is a missing sample, null turn_idx is
    * unorderable — both drop whole; ts plays no part. Conversations
    * with fewer than 2 tail samples have no pairs and yield no row.
    */
  def theilSenSlope(transcripts: DataFrame, tailK: Int = 32): DataFrame = {
    require(tailK >= 2 && tailK <= 1024,
      s"tailK must be in [2, 1024], got $tailK")
    val wDesc = Window.partitionBy(col("conv_id")).orderBy(col("x").desc)
    val tail = transcripts
      .filter(col("turn_idx").isNotNull && col("text").isNotNull)
      .select(col("conv_id"), col("turn_idx").cast("long").as("x"),
        length(col("text")).cast("long").as("y"))
      .withColumn("_rn", row_number().over(wDesc))
      .filter(col("_rn") <= tailK)
    val gathered = tail
      .groupBy(col("conv_id"))
      .agg(sort_array(collect_list(struct(col("x"), col("y")))).as("_pts"))
    // all ordered pairs (i < j) via index-aware nested transforms; each
    // slope is one fixed-shape double division over exact longs
    val slopes = flatten(transform(col("_pts"), (a, i) =>
      transform(
        slice(col("_pts"), i + lit(2), size(col("_pts")) - i - lit(1)),
        bpt => (bpt.getField("y") - a.getField("y")).cast("double") /
          (bpt.getField("x") - a.getField("x")).cast("double"))))
    gathered
      .select(col("conv_id"), sort_array(slopes).as("_sl"))
      .withColumn("n_pairs", size(col("_sl")).cast("long"))
      .filter(col("n_pairs") >= 1)
      .select(col("conv_id"), col("n_pairs"),
        round(element_at(col("_sl"),
          ((col("n_pairs") + 1L) / 2L).cast("int")), 6).as("theil_slope"))
  }

  /** Seasonal-baseline residuals over the corpus hourly series: each
    * observed hour window's turn count against the average for its
    * (day-of-week, hour-of-day) calendar cell — "is 40k turns a lot
    * for 3am Sunday?", the question the raw hourly rollup and the
    * [[RefOps.hourlyProfile]] each answer only half of. The baseline
    * is the mean count over the OBSERVED windows of the cell (absent
    * hours are absent, not zero — the sparse-series reading of
    * [[dailyDeltas]]), and each row carries the cell's window count so
    * downstream consumers can gate on support.
    *
    * residual = count − cell mean; ratio = count/mean, computed in the
    * multiplication-first shape `count·windows/sum` so both engines run
    * the identical two-operation expression over exact longs. All
    * aggregates are longs; dow/hod are calendar FIELD reads of the
    * hour-aligned window_start (UTC calendar guard, [[RefOps.hourlyProfile]]).
    *
    * Null ts drops (time axis); everything else is census counting.
    *
    * Scale: the hourly groupBy partial-aggregates map-side into ≤
    * one row per distinct hour (years of data ≈ tens of thousands of
    * rows); the cell baseline is a WINDOW over (dow, hod) on that
    * collapsed frame — the [[graft.rollup.Rollup.charLenHistogram]]
    * denominator idiom: one metadata-scale exchange, no self-join, no
    * duplicated aggregation subtree.
    */
  def seasonalResidual(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForCalendar(transcripts, "ts")
    val hourUs = 3600L * 1000000L
    val us = unix_micros(col("ts").cast("timestamp"))
    val hourly = transcripts
      .filter(col("ts").isNotNull)
      .select(timestamp_micros(us - pmod(us, lit(hourUs))).as("hour_start"))
      .groupBy(col("hour_start"))
      .agg(count(lit(1)).as("turn_count"))
      .withColumn("dow", dayofweek(col("hour_start")))
      .withColumn("hod", hour(col("hour_start")))
    val w = Window.partitionBy(col("dow"), col("hod"))
    val framed = hourly
      .withColumn("cell_windows", count(lit(1)).over(w))
      .withColumn("_cell_sum", sum(col("turn_count")).over(w))
    val mean = col("_cell_sum").cast("double") / col("cell_windows").cast("double")
    framed.select(
      col("hour_start"), col("dow"), col("hod"), col("turn_count"),
      col("cell_windows"),
      round(mean, 6).as("cell_avg"),
      round(col("turn_count").cast("double") - mean, 6).as("residual"),
      round(col("turn_count").cast("double") * col("cell_windows").cast("double") /
        col("_cell_sum").cast("double"), 6).as("ratio"))
  }

  /** Tool co-occurrence matrix: for every unordered pair of tools, the
    * number of conversations that used BOTH, each tool's own
    * conversation reach, and the Jaccard overlap
    * `both / (a + b − both)` — the association structure ("search and
    * browse travel together; db stands alone") that per-conversation
    * diversity ([[RefOps.toolDiversity]]) and per-tool totals cannot
    * see. Pairs are canonicalized `tool_a < tool_b`; a conversation
    * contributes once per pair regardless of call counts (reach, not
    * volume — the distinct projection pins that).
    *
    * Counts are exact longs; jaccard is ONE division in the
    * denominator-first long arithmetic `both / (a + b − both)`, both
    * sides cast to double in fixed shape ([[RefOps.toolDiversity]]
    * idiom). Null tool is the no-call marker, never a tool name.
    *
    * Scale: the distinct (conv, tool) projection collapses map-side to
    * reach rows; the self-join exchanges that collapsed frame once on
    * conv_id and expands to ≤ |toolbox|²/2 rows per conversation
    * (vocabulary-bounded, the structural-cap doctrine); pair counts and
    * per-tool reach are then vocabulary-scale aggregates, and the two
    * reach enrichments broadcast ≤|tools| rows each.
    */
  def toolCooccurrence(transcripts: DataFrame): DataFrame = {
    val d = transcripts
      .filter(col("tool").isNotNull)
      .select(col("conv_id"), col("tool"))
      .distinct()
    val reach = d.groupBy(col("tool")).agg(count(lit(1)).as("convs"))
    val pairs = d.as("a")
      .join(d.as("b"),
        col("a.conv_id") === col("b.conv_id") && col("a.tool") < col("b.tool"))
      .groupBy(col("a.tool").as("tool_a"), col("b.tool").as("tool_b"))
      .agg(count(lit(1)).as("convs_both"))
    pairs
      .join(broadcast(reach.select(col("tool").as("tool_a"),
        col("convs").as("convs_a"))), Seq("tool_a"))
      .join(broadcast(reach.select(col("tool").as("tool_b"),
        col("convs").as("convs_b"))), Seq("tool_b"))
      .select(
        col("tool_a"), col("tool_b"), col("convs_both"),
        col("convs_a"), col("convs_b"),
        round(col("convs_both").cast("double") /
          (col("convs_a") + col("convs_b") - col("convs_both")).cast("double"),
          6).as("jaccard"))
  }

  /** Daily heavy hitters: the top `k` tools of every UTC day by call
    * count, with rank and share of the day's total tool calls — the
    * windowed frequency leaderboard ([[RefOps.topKPerKey]] is the
    * generic rank filter; this is its calendar-windowed, share-carrying
    * reading for the tool-usage feed). Ties break deterministically by
    * tool name ascending, so rank, the k-cutoff, and the output set are
    * total-order stable in both engines.
    *
    * Counts are exact longs; share is ONE fixed-shape division of the
    * tool's count by the day total. Null ts drops (time axis); null
    * tool is the no-call marker and never ranks.
    *
    * Scale: the (day, tool) census partial-aggregates map-side into
    * vocabulary×days rows; the rank window and the day-total window
    * share one metadata-scale exchange of that collapsed frame —
    * nothing full-volume moves after the first partial aggregation.
    */
  def heavyHittersDaily(transcripts: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val census = transcripts
      .filter(col("ts").isNotNull && col("tool").isNotNull)
      .select(dayStartCol.as("day_start"),
        col("tool"))
      .groupBy(col("day_start"), col("tool"))
      .agg(count(lit(1)).as("calls"))
    val wRank = Window.partitionBy(col("day_start"))
      .orderBy(col("calls").desc, col("tool"))
    val wDay = Window.partitionBy(col("day_start"))
    census
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("_day_total", sum(col("calls")).over(wDay))
      .filter(col("rank") <= k)
      .select(col("day_start"), col("rank"), col("tool"), col("calls"),
        round(col("calls").cast("double") / col("_day_total").cast("double"), 6)
          .as("share"))
  }

  /** Assistant response latency per conversation: for every user turn,
    * the time to the NEAREST FOLLOWING assistant turn in canonical turn
    * order, aggregated to n/p50/p95/max microseconds per conversation —
    * the agent's answer-time profile, which inter-arrival gaps
    * ([[RefOps.turnGapStats]]) blur because they pair every adjacent
    * turn regardless of who spoke. Tool turns and unattributed (null
    * role) turns sit between the pair without breaking it; a user turn
    * with no following assistant turn (conversation tail) contributes
    * no sample.
    *
    * "Nearest following" is a descending-order running carry:
    * `last(assistant ts, ignoreNulls)` over the reversed turn order's
    * unbounded-preceding frame — the row nearest the current one wins,
    * and the current row contributes only if it is itself an assistant
    * turn (it is not: only user rows emit samples). O(1) state per
    * row, no self-join, no as-of join.
    *
    * Latencies are exact µs longs (simultaneous timestamps give 0 —
    * turn order, not time order, defines the pairing); quantiles are
    * the exact type-7 `percentile` ≡ `quantile_cont` guarantee over
    * those longs ([[RefOps.turnGapStats]] idiom, both quantiles from
    * ONE percentile call). Null ts cannot measure (unplaceable) and
    * null turn_idx cannot order — both drop the whole observation
    * before pairing, so a dropped assistant turn passes the baton to
    * the next one (the gap-spans-missing-samples reading).
    *
    * Scale: ONE conv_id exchange, one sort shared by the carry window
    * and the aggregation; output is one row per conversation with at
    * least one completed exchange.
    */
  def responseLatency(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val wDesc = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tsUs = unix_micros(col("ts").cast("timestamp"))
    val samples = transcripts
      .filter(col("ts").isNotNull && col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"), col("role"), tsUs.as("_us"))
      .withColumn("_next_assistant_us",
        last(when(col("role") === "assistant", col("_us")), ignoreNulls = true)
          .over(wDesc))
      .filter(col("role") === "user" && col("_next_assistant_us").isNotNull)
      .select(col("conv_id"),
        (col("_next_assistant_us") - col("_us")).as("latency_us"))
    samples.groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_responses"),
        percentile(col("latency_us"), array(lit(0.5), lit(0.95))).as("_q"),
        max(col("latency_us")).as("latency_max_us"))
      .select(col("conv_id"), col("n_responses"),
        col("_q").getItem(0).as("latency_p50_us"),
        col("_q").getItem(1).as("latency_p95_us"),
        col("latency_max_us"))
  }

  /** Cohort retention grid: conversations are cohorted by their first
    * active UTC day, and each (cohort day, age in days) cell counts the
    * cohort's conversations active that day plus the retention share —
    * the product-analytics curve ("how many of Monday's conversations
    * are still alive on day 3?") that per-day censuses cannot attribute.
    * Age is measured over OBSERVED activity days (a conversation active
    * on days 0 and 5 fills cells 0 and 5 — absent days are absent, the
    * [[dailyDeltas]] sparse reading), and cell (c, 0) is by construction
    * the cohort size itself, carried onto every row of the cohort so
    * retention is self-contained.
    *
    * All counts are exact longs; age is exact integer µs division
    * (both operands day-aligned, zero remainder); retention is ONE
    * fixed-shape division. Null ts drops (time axis).
    *
    * Scale: the distinct (conv, day) projection partial-deduplicates
    * map-side and exchanges conv-day rows once; the cohort-day window
    * re-exchanges that collapsed frame on conv_id, and the grid
    * aggregate + cohort-size window move only (days × ages) cells —
    * every post-first exchange is collapsed-frame or metadata scale.
    */
  def cohortRetention(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val dayUs = 86400L * 1000000L
    val us = unix_micros(col("ts").cast("timestamp"))
    val active = transcripts
      .filter(col("ts").isNotNull)
      .select(col("conv_id"),
        (us - pmod(us, lit(dayUs))).as("_day_us"))
      .distinct()
    val wConv = Window.partitionBy(col("conv_id"))
    val grid = active
      .withColumn("_cohort_us", min(col("_day_us")).over(wConv))
      .select(
        timestamp_micros(col("_cohort_us")).as("cohort_day"),
        expr("(_day_us - _cohort_us) div 86400000000").as("age_days"))
      .groupBy(col("cohort_day"), col("age_days"))
      .agg(count(lit(1)).as("active_convs"))
    val wCohort = Window.partitionBy(col("cohort_day"))
    grid
      .withColumn("cohort_size",
        sum(when(col("age_days") === 0L, col("active_convs"))).over(wCohort))
      .select(col("cohort_day"), col("age_days"), col("active_convs"),
        col("cohort_size"),
        round(col("active_convs").cast("double") /
          col("cohort_size").cast("double"), 6).as("retention"))
  }

  /** SAX motif grouping: conversations collapsed to their SAX shape
    * signature (the per-segment symbols of [[paaSax]] concatenated in
    * segment order) and grouped — "which length-trajectory shapes recur,
    * and how often?", the motif census that makes 10¹² conversations
    * browsable by shape ("abcd…d ramps", "dcba…a decays"). Carries the
    * lexicographically-least conversation id as a deterministic
    * exemplar for drill-down.
    *
    * Everything upstream is [[paaSax]]'s hash-exact machinery; the
    * signature itself is a pure string fold over the deterministic
    * (seg, symbol) pairs, so groups and counts are bit-stable. Short
    * conversations produce short signatures (fewer occupied segments —
    * the paaSax `((rank−1)·S) div n` layout), which is part of the
    * signature, not noise: a 2-turn conversation IS a different shape
    * than an 800-turn one.
    *
    * Scale: inherits paaSax's ONE conv_id exchange (the per-conv
    * signature fold is a conv-refinement groupBy on the same
    * clustering); the final signature census exchanges ≤ 4^segments
    * motif rows — metadata scale.
    */
  def saxMotifs(transcripts: DataFrame, segments: Int = 8): DataFrame = {
    val sax = paaSax(transcripts, segments)
    sax
      .groupBy(col("conv_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("seg"), col("symbol")))),
            p => p.getField("symbol")),
          "").as("sax_signature"))
      .groupBy(col("sax_signature"))
      .agg(
        count(lit(1)).as("n_convs"),
        min(col("conv_id")).as("exemplar_conv"))
  }

  /** Conversation lifecycle census: one row per conversation with its
    * placeable turn count, first/last timestamps, total span in exact
    * µs, distinct active UTC days, and turns per active day — the
    * whole-life summary ("a 3-day burst" vs "a 2-month trickle") that
    * windowed tiers never materialize in one row. The span counts
    * calendar coverage between observed endpoints; active_days counts
    * only days with data (the [[cohortRetention]] observed-activity
    * reading — a conversation alive on days 0 and 5 has span ~5 days
    * but 2 active days).
    *
    * All counts and the span are exact longs; turns_per_active_day is
    * ONE fixed-shape division. Null ts drops the observation (time
    * axis — an unplaceable turn has no lifecycle position); role/text/
    * turn_idx nulls keep their rows (census counting).
    *
    * Scale: ONE partial-aggregated conv_id exchange; the distinct-day
    * count rides the same aggregate (Spark plans count(DISTINCT) via
    * a map-side Expand on the already-clustered key — no extra
    * exchange of raw rows). Output is one row per conversation.
    */
  def convLifecycle(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val dayUs = 86400L * 1000000L
    val us = unix_micros(col("ts").cast("timestamp"))
    transcripts
      .filter(col("ts").isNotNull)
      .select(col("conv_id"), col("ts"), us.as("_us"),
        (us - pmod(us, lit(dayUs))).as("_day_us"))
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"),
        (max(col("_us")) - min(col("_us"))).as("span_us"),
        countDistinct(col("_day_us")).as("active_days"))
      .withColumn("turns_per_active_day",
        round(col("n_turns").cast("double") / col("active_days").cast("double"), 6))
  }

  /** Corpus term frequency top-k: the `k` most frequent whitespace
    * tokens across all turn text with count, rank, and share of the
    * total token mass — the vocabulary head every training-data
    * pipeline inspects (stopword skew, boilerplate contamination,
    * tokenizer sanity). Tokenization is the rollup tiers' token
    * convention (split on single spaces, empty fragments from runs of
    * spaces INCLUDED — `token_sum` parity, mirrored by the oracle's
    * STRING_SPLIT) so the share denominator equals the q02 token_sum
    * total.
    *
    * The cutoff is the total order (count DESC, term ASC) — stable in
    * both engines (binary string collation both sides). Rank is
    * assigned AFTER the top-k extraction, over ≤ k rows.
    *
    * Scale: tokens partial-aggregate map-side per term, ONE exchange of
    * (term, count) pairs; the top-k is Spark's distributed
    * TakeOrderedAndProject (per-partition heads, never a global
    * single-partition sort of the vocabulary — the plan pin in
    * PlanShapeSpec); the total-mass denominator is a 1-row aggregate
    * broadcast by the cross join. Null text contributes nothing.
    */
  def termTopK(transcripts: DataFrame, k: Int = 50): DataFrame = {
    require(k >= 1 && k <= 100000, s"k must be in [1, 100000], got $k")
    val tokens = transcripts
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("occurrences"))
    val total = tokens.agg(sum(col("occurrences")).as("_total"))
    val top = tokens
      .orderBy(col("occurrences").desc, col("term"))
      .limit(k)
    top.crossJoin(broadcast(total))
      .withColumn("rank",
        row_number().over(
          Window.orderBy(col("occurrences").desc, col("term"))).cast("long"))
      .select(col("rank"), col("term"), col("occurrences"),
        round(col("occurrences").cast("double") / col("_total").cast("double"), 6)
          .as("share"))
  }

  /** Corpus term top-k via the Misra–Gries sketch — [[termTopK]]'s
    * mergeable, cardinality-independent sibling. The exact form's ONE
    * exchange carries a `(term, count)` pair per DISTINCT term; at a
    * web-scale vocabulary (URLs, ids, n-grams over 10¹² turns) that
    * exchange IS the job. Here each partition folds its terms into a
    * bounded [[graft.functions.MisraGries]] summary (O(capacity) state,
    * amortized O(1) per token, never serialized within the partition)
    * and the exchange moves ONE summary row per partition — wire volume
    * `partitions × capacity`, independent of both corpus size and
    * vocabulary size, with the estimate for every term within
    * `N / (capacity+1)` of truth.
    *
    * Verification contract (exhaustive settings): with `capacity ≥ distinct terms` no trim fires, counts
    * are EXACT, and the output is bit-identical to [[termTopK]] — the
    * driver query runs there (hash-exact vs the q75 oracle). Below
    * capacity the spec asserts the error bound and that every true
    * heavy hitter above the bound survives; the counter VALUES are
    * merge-order-dependent, as for any MG summary.
    *
    * Output mirrors [[termTopK]]: `(rank, term, occurrences, share)`
    * with share over the EXACT total token mass (a plain count rides
    * the same aggregation — totals are trivially mergeable; only
    * per-key counts need the sketch).
    */
  def termTopKSketch(transcripts: DataFrame, k: Int = 50,
      capacity: Int = 65536): DataFrame = {
    require(k >= 1 && k <= capacity,
      s"k must be in [1, capacity=$capacity], got $k")
    val sketched = transcripts
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("term"))
      .agg(
        graft.functions.MisraGries.sketch(capacity)(col("term")).as("sketch"),
        count(lit(1)).as("_total"))
    sketched
      .select(explode(col("sketch")).as(Seq("term", "occurrences")),
        col("_total"))
      .orderBy(col("occurrences").desc, col("term"))
      .limit(k)
      .withColumn("rank",
        row_number().over(
          Window.orderBy(col("occurrences").desc, col("term"))).cast("long"))
      .select(col("rank"), col("term"), col("occurrences"),
        round(col("occurrences").cast("double") / col("_total").cast("double"), 6)
          .as("share"))
  }

  /** Per-conversation distinctive terms by relative-frequency lift:
    * for each conversation, the `k` tokens whose in-conversation
    * relative frequency most exceeds their corpus relative frequency —
    * `lift = (tf/conv_tokens) / (ctf/corpus_tokens)` — the
    * "what is THIS conversation about" extraction (TF-IDF's job) in a
    * form both engines compute bit-identically: the classic log-IDF
    * weight would compare `ln` outputs, and `ln` is NOT correctly
    * rounded in either engine, so ranks could flip on sub-ulp ties;
    * the lift ratio is two exact-long products and ONE IEEE division —
    * deterministic everywhere, and for any fixed document-frequency
    * profile it orders terms exactly as TF-IDF would.
    *
    * Tokenization is the [[termTopK]] / rollup `token_sum` convention
    * (single-space split, empty fragments included). `minTf` suppresses
    * hapax noise (a once-used rare term otherwise dominates every
    * list); conversation token mass (`conv_tokens`) counts ALL the
    * conversation's tokens, before the minTf cut. The rank order is
    * (lift DESC, term ASC): lift is the same double bit-for-bit in
    * both engines, so the order is total and stable.
    *
    * Envelope: `tf·corpus_tokens` and `ctf·conv_tokens` stay inside
    * Long up to ~10¹² corpus tokens × 10⁴-token terms-per-conv — the
    * [[RefOps.cusumChangepoint]] documented-bounds doctrine.
    *
    * Scale: the (conv, term) census partial-aggregates map-side and
    * exchanges once; the term reach and conversation mass are windows
    * over that COLLAPSED frame (term-scale and conv-scale exchanges);
    * the corpus total is a 1-row aggregate broadcast by the cross
    * join; the rank window reuses the conv clustering. Nothing after
    * the census moves raw rows. Null text contributes nothing.
    */
  def termLift(transcripts: DataFrame, k: Int = 5, minTf: Long = 2L): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    require(minTf >= 1L, s"minTf must be >= 1, got $minTf")
    val tf = transcripts
      .filter(col("text").isNotNull)
      .select(col("conv_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("conv_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val wTerm = Window.partitionBy(col("term"))
    val wConv = Window.partitionBy(col("conv_id"))
    val enriched = tf
      .withColumn("ctf", sum(col("tf")).over(wTerm))
      .withColumn("_cv", sum(col("tf")).over(wConv))
    val total = tf.agg(sum(col("tf")).as("_ct"))
    val lifted = enriched
      .crossJoin(broadcast(total))
      .withColumn("_lift",
        (col("tf") * col("_ct")).cast("double") /
          (col("ctf") * col("_cv")).cast("double"))
      .filter(col("tf") >= minTf)
    val wRank = Window.partitionBy(col("conv_id"))
      .orderBy(col("_lift").desc, col("term"))
    lifted
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("conv_id"), col("rank"), col("term"), col("tf"),
        col("ctf"), round(col("_lift"), 6).as("lift"))
  }

  /** Mann-Kendall trend test per conversation over the trailing `tailK`
    * turns of the char_len series — the standard nonparametric
    * monotonic-trend statistic: `S = Σ_{i<j} sgn(y_j − y_i)` over all
    * turn-ordered pairs, with Kendall's tau-a `S / n₀`
    * (n₀ = n(n−1)/2) and the tie-corrected tau-b
    * `S / sqrt(n₀ · (n₀ − T))` (T = tied pairs; position ties are
    * impossible — turn_idx is unique). The sign-count S is what
    * [[theilSenSlope]]'s median slope estimates the MAGNITUDE of; this
    * is the significance side of the same monotonic-trend question,
    * and the pair is the classic Mann-Kendall + Sen's-slope bundle.
    *
    * Everything is exact integers until two final divisions and one
    * sqrt (correctly rounded per IEEE — the [[paaSax]] doctrine), so
    * both engines agree bit-for-bit. Tail-limited like [[theilSenSlope]]
    * (same O(n²) cap rationale, same tailK envelope); conversations
    * with fewer than 2 tail samples have no pairs and yield no row;
    * an all-tied tail (n₀ = T) pins tau_b NULL rather than 0/0.
    *
    * Null text is a missing sample, null turn_idx is unorderable —
    * both drop the whole observation; ts plays no part.
    *
    * Scale: ONE conv_id exchange shared by the tail row_number and the
    * gather ([[theilSenSlope]] plan shape); the pair expansion is a
    * per-group array transform bounded by tailK², never a join.
    */
  def mannKendall(transcripts: DataFrame, tailK: Int = 32): DataFrame = {
    require(tailK >= 2 && tailK <= 1024,
      s"tailK must be in [2, 1024], got $tailK")
    val wDesc = Window.partitionBy(col("conv_id")).orderBy(col("x").desc)
    val tail = transcripts
      .filter(col("turn_idx").isNotNull && col("text").isNotNull)
      .select(col("conv_id"), col("turn_idx").cast("long").as("x"),
        length(col("text")).cast("long").as("y"))
      .withColumn("_rn", row_number().over(wDesc))
      .filter(col("_rn") <= tailK)
    val gathered = tail
      .groupBy(col("conv_id"))
      .agg(sort_array(collect_list(struct(col("x"), col("y")))).as("_pts"),
        count(lit(1)).as("n"))
    // all ordered pairs (i < j) in turn order; each sign is an exact
    // -1/0/+1 long, so S and the tie count are exact in both engines
    val signs = flatten(transform(col("_pts"), (a, i) =>
      transform(
        slice(col("_pts"), i + lit(2), size(col("_pts")) - i - lit(1)),
        bpt => when(bpt.getField("y") > a.getField("y"), 1L)
          .when(bpt.getField("y") < a.getField("y"), -1L)
          .otherwise(0L))))
    val s = col("_s")
    val n0 = col("n_pairs")
    val tiedFree = n0 - col("tied_pairs")
    gathered
      .filter(col("n") >= 2)
      .select(col("conv_id"), col("n"), signs.as("_signs"))
      .select(col("conv_id"), col("n"),
        size(col("_signs")).cast("long").as("n_pairs"),
        aggregate(col("_signs"), lit(0L), (acc, x) => acc + x).as("_s"),
        size(filter(col("_signs"), x => x === 0L)).cast("long")
          .as("tied_pairs"))
      .select(col("conv_id"), col("n"), col("n_pairs"), col("tied_pairs"),
        s.as("mk_s"),
        round(s.cast("double") / n0.cast("double"), 6).as("tau_a"),
        when(tiedFree > 0L,
          round(s.cast("double") /
            sqrt((n0 * tiedFree).cast("double")), 6)).as("tau_b"))
  }

  /** Rescaled-range (R/S) statistic of the char_len series per
    * conversation — the Hurst-analysis workhorse: R is the range of
    * the cumulative mean-centered deviations, S the population
    * standard deviation, and R/S grows like n^H (H≈0.5 for white
    * noise, >0.5 for trending/persistent series). Reported in the
    * algebraically reduced form where every factor of n cancels:
    * `R/S = (max_k D_k − min_k D_k) / sqrt(n·Σy² − (Σy)²)` with
    * `D_k = n·(Σ_{i≤k} y_i) − k·Σy` — D, its extremes, and the
    * variance numerator are EXACT integers in both engines, so the
    * only inexact steps are one sqrt (correctly rounded) and one
    * division ([[RefOps.cusumChangepoint]] scaled-integer idiom).
    *
    * The deviation extremes are over observed prefixes k = 1..n
    * (D_n = 0 by construction, so the range always sees the series
    * end); a constant series has zero variance and pins rs NULL.
    * Envelope: |D_k| ≤ n²·max_len (~1e16 for million-turn 10k-char
    * conversations — inside Long, the cusum envelope); the variance
    * numerator uses decimal(38,0) ([[paaSax]] sum-of-squares rule)
    * because n·Σy² alone exceeds Long there.
    *
    * Null text / null turn_idx drop the whole observation (the
    * [[theilSenSlope]] doctrine); ts plays no part — the series axis
    * is turn order.
    *
    * Scale: ONE conv_id exchange — the ordered cumsum window, the
    * whole-partition moment windows, and the final per-conv groupBy
    * all share the conv_id clustering ([[paaSax]] plan shape).
    */
  def rescaledRange(transcripts: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("conv_id"))
    val base = transcripts
      .filter(col("turn_idx").isNotNull && col("text").isNotNull)
      .select(col("conv_id"), col("turn_idx"),
        length(col("text")).cast("long").as("y"))
      .withColumn("_sq", (col("y") * col("y")).cast("decimal(38,0)"))
      .withColumn("_rn", row_number().over(wOrd).cast("long"))
      .withColumn("_c", sum(col("y")).over(wCum))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_s", sum(col("y")).over(wAll))
      .withColumn("_ss", sum(col("_sq")).over(wAll))
      .withColumn("_dev", col("_n") * col("_c") - col("_rn") * col("_s"))
    val g = base
      .groupBy(col("conv_id"))
      .agg(
        min(col("_n")).as("n"),
        (max(col("_dev")) - min(col("_dev"))).as("range_num"),
        min(col("_ss")).as("_css"),
        min(col("_s")).as("_cs"))
    val varNum = col("n").cast("decimal(38,0)") * col("_css") -
      col("_cs").cast("decimal(38,0)") * col("_cs").cast("decimal(38,0)")
    g.select(col("conv_id"), col("n"), col("range_num"),
      when(varNum > 0,
        round(col("range_num").cast("double") / sqrt(varNum.cast("double")), 6))
        .as("rs_stat"))
  }

  /** Day-activity percentile rank: each (conversation, UTC day)'s turn
    * count ranked within that day's active conversations, with the
    * percentile `(rank−1)/(day_convs−1)` — "was this conversation in
    * the day's top 1% of traffic?", the per-day skew view that feeds
    * salting decisions ([[graft.rollup.Rollup.fromRawSalted]]) with an
    * actual hot-key list instead of a guess. Rank 1 is the day's
    * busiest conversation; ties share a rank (same turn count = same
    * percentile — the standard competition reading), and a
    * single-conversation day pins pct 0.0 explicitly (the (n−1)
    * denominator is undefined there, and engines disagree on the
    * convention, so the CASE is part of the contract).
    *
    * Counts and ranks are exact longs; pct is ONE fixed-shape division
    * rounded 6. Null ts drops (time axis); other nulls keep their rows
    * (census counting — the [[convLifecycle]] doctrine).
    *
    * Scale: the (conv, day) census partial-aggregates map-side and
    * exchanges once (collapsed rows ≈ conv-days); the rank/size
    * windows share ONE day-scale exchange of that collapsed frame.
    */
  def dayActivityRank(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val daily = transcripts
      .filter(col("ts").isNotNull)
      .select(col("conv_id"),
        dayStartCol.as("day"))
      .groupBy(col("conv_id"), col("day"))
      .agg(count(lit(1)).as("turn_count"))
    val wDay = Window.partitionBy(col("day"))
    val wRank = wDay.orderBy(col("turn_count").desc)
    daily
      .withColumn("day_convs", count(lit(1)).over(wDay))
      .withColumn("rank", rank().over(wRank).cast("long"))
      .select(col("day"), col("conv_id"), col("turn_count"),
        col("day_convs"), col("rank"),
        when(col("day_convs") === 1L, lit(0.0))
          .otherwise(round((col("rank") - 1L).cast("double") /
            (col("day_convs") - 1L).cast("double"), 6)).as("pct"))
  }

  /** Temporal co-movement of tools: Pearson correlation between every
    * pair of tools' DAILY call-count series — "search and browse fire
    * on the same days; db spikes alone", the time-axis sibling of
    * [[toolCooccurrence]] (which counts shared conversations and
    * ignores WHEN). Series are aligned on the union of observed days
    * with zero-fill (a day one tool is silent is a real (x, 0)
    * observation — dropping it would bias the correlation toward
    * co-activity), so every pair sees the same n_days.
    *
    * Moments are exact integers (decimal(38,0) for the product sums —
    * the [[paaSax]] sum-of-squares rule: day×tool call counts squared
    * can exceed Long at 10¹² turns), then each moment is cast to
    * double ONCE and the Pearson shape mirrors the oracle verbatim
    * ([[RefOps.lengthDriftCorr]] idiom). Degenerate variance (a tool
    * with a constant daily series, e.g. all zeros after grid fill)
    * pins corr NULL, and pairs need n_days >= 3 like the drift
    * correlations.
    *
    * Null tool is the no-call marker (never a series); null ts drops
    * the observation (time axis).
    *
    * Scale: the (day, tool) census partial-aggregates map-side into
    * ≤ days×|toolbox| rows; the day/tool distinct frames, the
    * zero-fill grid, the per-day pairing self-join, and the pair
    * moments are ALL joins and aggregations over that metadata-scale
    * frame. The self-join's second grid subtree resolves to
    * ReusedExchange nodes at runtime (pinned in PlanShapeSpec on the
    * post-execution adaptive plan), and the day/tool distincts
    * collapse to map-collapsing scans of single narrow columns
    * (RemoveRedundantAggregates rewrites them against raw) — so the
    * full-width input is read once, plus two single-column distinct
    * passes that shrink map-side to metadata scale. Output is
    * ≤ |toolbox|²/2 rows.
    */
  /** Shared exact-integer Pearson block over an (x: long, y: long) pair
    * frame, grouped by `keys` — the single definition of the moment
    * shape [[toolPairCorrelation]], [[toolLeadLag]], and
    * [[dailyAutocorr]] all hash-match their DuckDB oracles through
    * (the [[RefOps]] sibling covers the conv-keyed small-value family).
    * Each product PRE-casts one operand to decimal(38,0) — daily
    * counts above ~3·10⁹ would overflow a Long PRODUCT (ANSI abort)
    * before a post-multiply cast could save it; the oracles' HUGEINT
    * precast mirrors this operand-for-operand. n ≥ 3 + positive
    * variance on both axes, else corr pins NULL; one double cast per
    * moment, round 6. Any change here changes three queries'
    * cross-engine hash guarantees — keep the SparkEntry oracles in
    * lockstep.
    */
  private def pearsonPairCorr(pairs: DataFrame, keys: Seq[String],
      nName: String): DataFrame = {
    val m = pairs
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as(nName),
        sum(col("x")).as("_sx"), sum(col("y")).as("_sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("_sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("_sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("_syy"))
    val n = col(nName).cast("double")
    val cov = n * col("_sxy").cast("double") -
      col("_sx").cast("double") * col("_sy").cast("double")
    val vx = n * col("_sxx").cast("double") -
      col("_sx").cast("double") * col("_sx").cast("double")
    val vy = n * col("_syy").cast("double") -
      col("_sy").cast("double") * col("_sy").cast("double")
    m.select(keys.map(col) :+ col(nName) :+
      when(col(nName) >= 3 && vx > 0 && vy > 0,
        round(cov / sqrt(vx * vy), 6)).as("corr"): _*)
  }

  def toolPairCorrelation(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val census = transcripts
      .filter(col("ts").isNotNull && col("tool").isNotNull)
      .select(dayStartCol.as("day"),
        col("tool"))
      .groupBy(col("day"), col("tool"))
      .agg(count(lit(1)).as("calls"))
    val days = census.select(col("day")).distinct()
    val tools = census.select(col("tool")).distinct()
    val grid = days
      .crossJoin(broadcast(tools))
      .join(census, Seq("day", "tool"), "left")
      .select(col("day"), col("tool"),
        coalesce(col("calls"), lit(0L)).as("calls"))
    val a = grid.select(col("day"), col("tool").as("tool_a"),
      col("calls").as("x"))
    val b = grid.select(col("day"), col("tool").as("tool_b"),
      col("calls").as("y"))
    val pairs = a.join(b, Seq("day"))
      .filter(col("tool_a") < col("tool_b"))
    pearsonPairCorr(pairs, Seq("tool_a", "tool_b"), "n_days")
  }

  /** Optimal binary split of the turn-length series per conversation —
    * the localization step [[RefOps.cusumChangepoint]]'s alarm flags
    * lead to: the prefix length k (1 ≤ k < n) whose two-segment split
    * maximizes the sum-of-squared-error reduction
    * `gain_k = D_k² / (n·k·(n−k))` with `D_k = n·(Σ_{i≤k} y_i) − k·Σy`
    * — the single CART / binary-segmentation step, reported with both
    * segment means so the jump direction and size read directly off
    * the row.
    *
    * D_k is an exact integer in both engines (the [[rescaledRange]]
    * deviation, same Long envelope |D| ≤ n²·max_len); the gain and the
    * means are fixed-shape double expressions over those integers, so
    * the argmax is bit-stable, and exact gain TIES (e.g. a constant
    * series, all gains 0) break to the SMALLEST k by the (gain DESC,
    * k ASC) total order — pinned, not incidental.
    *
    * Null text / null turn_idx drop the whole observation
    * ([[theilSenSlope]] doctrine); single-sample conversations have no
    * interior split and yield no row.
    *
    * Scale: ONE conv_id exchange — cumsum + moment windows, the
    * argmax window, and the final filter all share the conv_id
    * clustering ([[rescaledRange]] plan shape).
    */
  def binarySplit(transcripts: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("conv_id"))
    val base = transcripts
      .filter(col("turn_idx").isNotNull && col("text").isNotNull)
      .select(col("conv_id"), col("turn_idx"),
        length(col("text")).cast("long").as("y"))
      .withColumn("_rn", row_number().over(wOrd).cast("long"))
      .withColumn("_c", sum(col("y")).over(wCum))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_s", sum(col("y")).over(wAll))
      .filter(col("_rn") < col("_n"))
      .withColumn("_dev", col("_n") * col("_c") - col("_rn") * col("_s"))
      .withColumn("_gain",
        (col("_dev").cast("double") * col("_dev").cast("double")) /
          ((col("_rn") * (col("_n") - col("_rn"))).cast("double") *
            col("_n").cast("double")))
    val wBest = Window.partitionBy(col("conv_id"))
      .orderBy(col("_gain").desc, col("_rn"))
    base
      .withColumn("_rk", row_number().over(wBest))
      .filter(col("_rk") === 1)
      .select(col("conv_id"), col("_n").as("n"), col("_rn").as("split_k"),
        round(col("_c").cast("double") / col("_rn").cast("double"), 6)
          .as("mean_left"),
        round((col("_s") - col("_c")).cast("double") /
          (col("_n") - col("_rn")).cast("double"), 6).as("mean_right"),
        round(col("_gain"), 6).as("sse_gain"))
  }

  /** Tool cadence per (conversation, tool): call count, first/last
    * call timestamps, and the median / p95 / max inter-call gap in
    * exact µs — "how often does THIS conversation call search", the
    * per-key rhythm [[RefOps.turnGapStats]] blurs by pairing every
    * turn regardless of tool. Keyed by (conv, tool) rather than tool
    * alone DELIBERATELY: a bare tool partition is a handful of
    * vocabulary-sized hot keys (the skew the salted rollup exists to
    * kill), while (conv, tool) partitions like every other conv-scale
    * operator.
    *
    * Quantiles carry the [[graft.rollup.Rollup.charLenQuantiles]]
    * `percentile ≡ quantile_cont` cross-engine guarantee over exact
    * integer µs samples. Single-call keys keep their row with NULL
    * gap stats (no gaps ≠ no calls — both engines' aggregates skip
    * the NULL lead). Order key (ts, turn_idx) — the [[gapReport]]
    * time-axis order; null ts / null turn_idx / null tool drop the
    * whole observation (tool is the KEY here, not a payload).
    *
    * Scale: ONE (conv, tool) exchange shared by the lead window and
    * the groupBy (identical keys — the clustering-reuse shape).
    */
  def toolCadence(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val w = Window.partitionBy(col("conv_id"), col("tool"))
      .orderBy(col("_us"), col("turn_idx"))
    transcripts
      .filter(col("ts").isNotNull && col("tool").isNotNull &&
        col("turn_idx").isNotNull)
      .select(col("conv_id"), col("tool"), col("turn_idx"), col("ts"),
        unix_micros(col("ts").cast("timestamp")).as("_us"))
      .withColumn("_gap_us", lead(col("_us"), 1).over(w) - col("_us"))
      .groupBy(col("conv_id"), col("tool"))
      .agg(
        count(lit(1)).as("n_calls"),
        min(col("ts")).as("first_call"),
        max(col("ts")).as("last_call"),
        percentile(col("_gap_us"), array(lit(0.5), lit(0.95))).as("_q"),
        max(col("_gap_us")).as("gap_max_us"))
      .select(col("conv_id"), col("tool"), col("n_calls"),
        col("first_call"), col("last_call"),
        col("_q").getItem(0).as("gap_p50_us"),
        col("_q").getItem(1).as("gap_p95_us"),
        col("gap_max_us"))
  }

  /** Corpus vocabulary growth by UTC day: distinct terms and total
    * token mass per day, the count of terms FIRST seen that day, and
    * the running vocabulary size — the Heaps-law monitor ("is the
    * corpus still discovering language or has ingest gone stale /
    * duplicative?") that complements the per-conversation
    * [[RefOps.toolVocabGrowth]] at corpus grain. Tokenization is the
    * [[termTopK]] / rollup `token_sum` convention.
    *
    * All outputs are exact longs (first-seen is a min-day flag; the
    * running sum is the classic first-flag cumsum, here over the day
    * series). Null text contributes nothing; null ts drops (time
    * axis).
    *
    * Scale: the (day, term) census partial-aggregates map-side, and it
    * is the ONLY pass over raw text — first-seen is a min-day window
    * over the census's term clustering rather than a second aggregate
    * branch (a census self-reference splits into two full text scans:
    * column pruning specializes each branch's census, which defeats
    * exchange reuse — measured, and now pinned as exactly one Generate
    * in PlanShapeSpec). The term window and the per-day totals are
    * vocabulary-scale; the final running sum is a single-partition
    * window over the DAY series — thousands of rows for years of
    * data, the [[seasonalResidual]] metadata-scale reading.
    */
  def termVocabGrowth(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val census = transcripts
      .filter(col("ts").isNotNull && col("text").isNotNull)
      .select(dayStartCol.as("day"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy(col("day"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val wTerm = Window.partitionBy(col("term"))
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census
      .withColumn("_first", col("day") === min(col("day")).over(wTerm))
      .groupBy(col("day"))
      .agg(sum(col("cnt")).as("day_tokens"),
        count(lit(1)).as("distinct_terms"),
        sum(when(col("_first"), 1L).otherwise(0L)).as("new_terms"))
      .withColumn("cum_vocab", sum(col("new_terms")).over(wCum))
  }

  /** Missing-data gap report per conversation: one row per
    * inter-arrival gap strictly longer than `minGapSeconds`, carrying
    * the bounding turn ids, the bounding timestamps, and the exact gap
    * in integer microseconds. [[Sessionize]] AGGREGATES across these
    * boundaries (a session per island); this reports the boundaries
    * THEMSELVES — the "where is my data missing / where did the agent
    * stall" query that feeds gap-fill planning and SLA monitoring.
    *
    * By construction `gapReport(t, g)` rows are exactly the
    * session-opening breaks of `Sessionize.assign(t, g)` minus each
    * conversation's first turn — sessions per conv = gaps + 1 (pinned
    * as a cross-operator property in SeriesOpsSpec).
    *
    * Order key (ts, turn_idx) — the [[Sessionize]] time-axis order, so
    * simultaneous turns tie-break identically in both engines. Null ts
    * cannot sit on the time axis; null turn_idx cannot serve as the
    * from/to identity and would order NULLS FIRST in Spark but NULLS
    * LAST in DuckDB under ts ties — both drop the whole observation.
    * A dropped row can surface a longer merged gap (the
    * [[RefOps.turnGapStats]] "gap spans missing samples" reading).
    *
    * Output is all-integer (µs) and raw timestamps — no doubles.
    *
    * Scale: ONE conv_id exchange, one sort, one lead, one filter whose
    * selectivity is the gap rate — output rows ≈ sessions, orders of
    * magnitude below input rows.
    */
  def gapReport(transcripts: DataFrame, minGapSeconds: Long = 1800L): DataFrame = {
    require(minGapSeconds > 0 && minGapSeconds <= capS,
      s"minGapSeconds must be in (0, $capS], got $minGapSeconds")
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val w = Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("turn_idx"))
    transcripts
      .filter(col("ts").isNotNull && col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"), col("ts"))
      .withColumn("_next_ts", lead(col("ts"), 1).over(w))
      .withColumn("_next_idx", lead(col("turn_idx"), 1).over(w))
      .withColumn("gap_us",
        unix_micros(col("_next_ts").cast("timestamp")) -
          unix_micros(col("ts").cast("timestamp")))
      .filter(col("gap_us") > minGapSeconds * 1000000L)
      .select(
        col("conv_id"),
        col("turn_idx").as("from_idx"),
        col("_next_idx").as("to_idx"),
        col("ts").as("gap_start"),
        col("_next_ts").as("gap_end"),
        col("gap_us"))
  }

  /** Exact per-day activity cardinality: turn count, distinct
    * conversations, and distinct tools per UTC day — the daily-active
    * series every capacity dashboard leads with, and the ground truth
    * [[dailyCardinalityApprox]] is graded against.
    *
    * Exact multi-column DISTINCT is the one aggregate shape that does
    * NOT partial-collapse map-side: Catalyst plans the two distincts
    * via Expand (each input row duplicated per distinct column, then
    * deduped on (day, gid, value) before the day re-aggregation), so
    * the shuffle carries the (day, conv)/(day, tool) dedup frames.
    * Affordable when distinct-values-per-day is bounded (conversations
    * per day is metadata-scale after the dedup); the sketch sibling is
    * the path when it is not. Null tool is the no-call marker (not a
    * tool — excluded, both engines' COUNT(DISTINCT) skip NULL); null
    * ts drops the row (time axis).
    */
  /** Shared pre-projection of the cardinality pair: null-ts drop +
    * UTC day floor + the two counted columns. Both operators MUST see
    * the identical frame — a divergence here silently desynchronizes
    * q84 from q85's error contract.
    */
  private def dayActivityFrame(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    transcripts
      .filter(col("ts").isNotNull)
      .select(dayStartCol.as("day"),
        col("conv_id"), col("tool"))
  }

  /** UTC day index of `ts` as an exact integer (`div`, not `/` —
    * Column `/` is IEEE double division; the operand is a floored
    * multiple of dayUs, so div is exact). The single definition of
    * the day-bucketing rule every day_num-keyed operator shares —
    * its DuckDB oracle mirror is the `(EPOCH_US(ts) − ((EPOCH_US(ts)
    * % 86400000000) + 86400000000) % 86400000000) // 86400000000`
    * clause; a change here must change those oracles in lockstep
    * (the [[pearsonPairCorr]] doctrine).
    */
  private def dayNumCol: org.apache.spark.sql.Column = {
    val dayUs = 86400L * 1000000L
    expr(s"(unix_micros(cast(ts as timestamp)) " +
      s"- pmod(unix_micros(cast(ts as timestamp)), $dayUs)) div $dayUs")
  }

  /** UTC day FLOOR of `ts` as a timestamp — the timestamp twin of
    * [[dayNumCol]] and the single definition of the day-bucketing rule
    * for every day-keyed census in this file (µs-floor idiom: integer
    * arithmetic on epoch micros, no calendar fields, so only the NTZ
    * zone guard applies). Its DuckDB oracle mirror is the
    * `MAKE_TIMESTAMP(EPOCH_US(ts) - ...pmod...)`/`DATE_TRUNC('day')`
    * clause family; a change here must change those oracles in
    * lockstep (the [[pearsonPairCorr]] doctrine).
    */
  private def dayStartCol: org.apache.spark.sql.Column = {
    val dayUs = 86400L * 1000000L
    val us = unix_micros(col("ts").cast("timestamp"))
    timestamp_micros(us - pmod(us, lit(dayUs)))
  }

  /** The (conv_id, day) turn-count census shared by [[dtwPairs]] and
    * [[peakDays]] — one exchange, partial-aggregated map-side; the
    * null doctrine (null ts unplaceable, null conv_id unkeyable) and
    * the day floor change HERE and in the q108/q109/q111 oracles in
    * lockstep (the [[dayTermCensus]] sharing precedent).
    */
  private def dayTurnCensus(transcripts: DataFrame, cntName: String): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    transcripts
      .filter(col("ts").isNotNull && col("conv_id").isNotNull)
      .select(col("conv_id"), dayStartCol.as("day"))
      .groupBy(col("conv_id"), col("day"))
      .agg(count(lit(1)).as(cntName))
  }

  /** Digit-count length bucket of `text` (exact integer text algebra,
    * no log2 float boundary) — the single definition of the histogram
    * bucket rule shared by [[lengthHistogramDaily]] and [[distDrift]];
    * the DuckDB mirror is `LENGTH(CAST(LENGTH(text) AS VARCHAR))` —
    * change them in lockstep (the [[dayNumCol]] doctrine).
    */
  private def lenBucketCol: org.apache.spark.sql.Column =
    length(length(col("text")).cast("string")).cast("long")

  /** Shared (day_num, term, count) census of [[termChurnDaily]] and
    * [[typeTokenRatio]] — the [[termTopK]] tokenization convention
    * (single-space split, empty fragments included), day-bucketed by
    * [[dayNumCol]]. ONE raw-token exchange, partial map-side.
    */
  private def dayTermCensus(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    transcripts
      .filter(col("ts").isNotNull && col("text").isNotNull)
      .select(dayNumCol.as("day_num"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy(col("day_num"), col("term"))
      .agg(count(lit(1)).as("_c"))
  }

  def dailyCardinality(transcripts: DataFrame): DataFrame =
    dayActivityFrame(transcripts)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("turns"),
        count_distinct(col("conv_id")).as("distinct_convs"),
        count_distinct(col("tool")).as("distinct_tools"))

  /** HyperLogLog++ sibling of [[dailyCardinality]] — the 100 TB path:
    * `approx_count_distinct` sketches are MERGEABLE, so the aggregate
    * partial-collapses map-side like any sum and the one exchange
    * carries a constant-size sketch per (day, column) instead of the
    * exact path's (day, conv)/(day, tool) Expand-dedup frames. At
    * 10¹² turns/day the exact plan shuffles ~10⁹ dedup rows per day;
    * this plan shuffles one sketch per (scan task, day, column) — a
    * few KB each, so GB-scale for a 400k-task 100 TB scan, and
    * independent of the per-day cardinality itself — the classic
    * cardinality-sketch trade (PAPERS.md: HLL++; same mergeable-state
    * doctrine as the GK quantile sibling in the rollup).
    *
    * `rsd` is the HLL++ target relative standard deviation (Spark
    * default 0.05); below the sparse-mode threshold the sketch is
    * EXACT, so small-scale tests double as correctness checks while
    * the error bound (≤ 3·rsd, spec-pinned vs the exact operator) is
    * the contract at scale. The sketch hash is seedless/deterministic:
    * same input → same estimate, so the driver's rows-only check is
    * stable across runs. Null semantics mirror the exact operator.
    */
  /** Lead-lag cross-correlation between tool pairs: Pearson correlation
    * of tool_a's daily call series at day t against tool_b's at day
    * t+lag, for lags 1..`maxLag` — "search leads browse by one day",
    * the DIRECTIONAL sibling of [[toolPairCorrelation]] (lag 0,
    * symmetric) and the cross-series sibling of [[dailyAutocorr]].
    * Output is ordered pairs (a leads b ≠ b leads a).
    *
    * Unlike [[toolPairCorrelation]]'s union-of-observed-days axis
    * (correct at lag 0, where both series are read on the same day),
    * lag arithmetic REQUIRES the contiguous min..max day range — on
    * observed days only, a hole would splice non-adjacent days into a
    * false lag-1 pair — so the grid zero-fills the full range (the
    * [[dailyAutocorr]] doctrine) and the day index is the absolute
    * day number `unix_micros(day) / dayUs` (exact: days are floored
    * multiples, so truncation is exact division; no row_number pass).
    *
    * Moments are the shared exact-integer Pearson shape (decimal(38,0)
    * product sums, each moment cast to double once, n ≥ 3 +
    * positive-variance gate → NULL). Null tool is the no-call marker
    * (never a series); null ts drops (time axis).
    *
    * Scale: the (day, tool) census partial-aggregates map-side to
    * ≤ days×|toolbox| rows and is materialized ONCE via localCheckpoint
    * (its range anchor, toolbox distinct, and zero-fill join are three
    * references — the [[dailyAutocorr]] single-raw-scan doctrine); the
    * grid, the lag explode, the idx+lag join, and the pair moments
    * are all metadata-scale (≤ days × |toolbox|² × maxLag rows).
    * Output is ≤ |toolbox|² × maxLag rows.
    */
  def toolLeadLag(transcripts: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1 && maxLag <= 366,
      s"maxLag must be in [1, 366], got $maxLag")
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val dayUs = 86400L * 1000000L
    val census = transcripts
      .filter(col("ts").isNotNull && col("tool").isNotNull)
      .select(dayStartCol.as("day"),
        col("tool"))
      .groupBy(col("day"), col("tool"))
      .agg(count(lit(1)).as("calls"))
      // localCheckpoint, NOT persist: a persist here registers a
      // CacheManager entry that outlives the query (nothing can
      // unpersist it — the frame is returned lazily), accumulating
      // pinned blocks across calls in a long-lived session. The
      // checkpointed census is ≤ days×|toolbox| rows, eager
      // materialization is one map-side-combined scan, and its blocks
      // free with the RDD once the result is GC'd.
      .localCheckpoint()
    val days = census
      .agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
      .select(explode(sequence(col("_d0"), col("_d1"),
        expr("interval 1 day"))).as("day"))
    val tools = census.select(col("tool")).distinct()
    val grid = days
      .crossJoin(broadcast(tools))
      .join(census, Seq("day", "tool"), "left")
      // integer `div`, not `/`: Column `/` is IEEE double division,
      // inexact past 2^53 µs (~year 2255) — the oracle's `//` is exact
      .select(expr(s"unix_micros(day) div $dayUs").as("idx"),
        col("tool"), coalesce(col("calls"), lit(0L)).as("calls"))
    val aSide = grid.select(col("idx"), col("tool").as("tool_a"),
        col("calls").as("x"),
        explode(sequence(lit(1L), lit(maxLag.toLong))).as("lag"))
      .withColumn("_widx", col("idx") + col("lag"))
    val bSide = grid.select(col("idx").as("_widx"),
      col("tool").as("tool_b"), col("calls").as("y"))
    val pairs = aSide.join(bSide, Seq("_widx"))
      .filter(col("tool_a") =!= col("tool_b"))
    pearsonPairCorr(pairs, Seq("tool_a", "tool_b", "lag"), "n_days")
  }

  /** Autocorrelation function of the corpus-grain DAILY turn-count
    * series at lags 1..`maxLag` — weekly seasonality reads directly off
    * a lag-7 peak, monthly off lag-30: the day-series sibling of
    * [[RefOps.lagAutocorr]] (per-conversation turn grain) and the
    * significance companion to [[seasonalResidual]]'s calendar-cell
    * baselines, at the grain split this engine applies throughout
    * (termTopK↔termLift, toolVocabGrowth↔termVocabGrowth).
    *
    * The series is the ZERO-FILLED day grid from min to max observed
    * day (a silent day is a real 0 observation — the
    * [[toolPairCorrelation]] doctrine; dropping holes would splice
    * non-adjacent days together and shift every lag). Each lag pairs
    * (x_t, x_{t+lag}) over the grid's row order and computes the
    * standard sample cross-moment correlation on exact integer sums
    * (decimal(38,0) product sums — daily totals squared can exceed
    * Long at 10¹² turns), each moment cast to double ONCE, the
    * operand-for-operand oracle-mirrored Pearson shape. Lags need
    * n ≥ 3 pairs and positive variance on both sides, else corr is
    * NULL (the drift-correlation convention). Null ts drops (time
    * axis).
    *
    * Scale: the daily census partial-aggregates map-side to ≤ days
    * rows and is materialized ONCE via localCheckpoint (blocks free
    * with the RDD — no CacheManager entry survives the call): the
    * grid's min/max anchor and its zero-fill join are two
    * references to the same frame, and without the pin Catalyst
    * duplicates the whole census subtree into a second raw scan
    * (measured — the [[termVocabGrowth]] self-reference hazard). The
    * lag pairing is maxLag `lead` columns on ONE single-partition
    * window over the day series (the [[seasonalResidual]]
    * metadata-scale reading) unpivoted via explode — no self-join at
    * all — and the per-lag moments aggregate days × maxLag rows. Raw
    * rows move only in the census exchange.
    */
  def dailyAutocorr(transcripts: DataFrame, maxLag: Int = 14): DataFrame = {
    require(maxLag >= 1 && maxLag <= 366,
      s"maxLag must be in [1, 366], got $maxLag")
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val daily = transcripts
      .filter(col("ts").isNotNull)
      .select(dayStartCol.as("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("turns"))
      // localCheckpoint, NOT persist ([[toolLeadLag]] rationale): the
      // ≤ days-row census materializes once and its blocks free with
      // the RDD, instead of pinning a CacheManager entry per call
      .localCheckpoint()
    // zero-filled grid: a 1-row min/max aggregate exploded to the full
    // day range, left-joined against the observed census
    val grid = daily
      .agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
      .select(explode(sequence(col("_d0"), col("_d1"),
        expr("interval 1 day"))).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("turns"), lit(0L)).as("turns"))
    val wDay = Window.orderBy(col("day"))
    val wide = grid.select(col("turns").as("x") +:
      (1 to maxLag).map(l => lead(col("turns"), l).over(wDay).as(s"_y$l")): _*)
    val pairs = wide
      .select(explode(array((1 to maxLag).map(l =>
        struct(lit(l.toLong).as("lag"), col("x"), col(s"_y$l").as("y"))): _*))
        .as("p"))
      .select(col("p.lag").as("lag"), col("p.x").as("x"), col("p.y").as("y"))
      .filter(col("y").isNotNull)
    pearsonPairCorr(pairs, Seq("lag"), "n_pairs")
  }

  def dailyCardinalityApprox(transcripts: DataFrame, rsd: Double = 0.05): DataFrame = {
    // HLL++ needs >= 4 addressing bits => rsd <= 1.106/2^1.5 ~ 0.391;
    // validate HERE so a wild literal is a pointed analysis error, not
    // Spark's planner exception
    require(rsd > 0 && rsd <= 0.39, s"rsd must be in (0, 0.39], got $rsd")
    dayActivityFrame(transcripts)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("turns"),
        approx_count_distinct(col("conv_id"), rsd).as("approx_convs"),
        approx_count_distinct(col("tool"), rsd).as("approx_tools"))
  }

  /** Per-day activity concentration — the Gini coefficient of the
    * turns-per-conversation distribution within each day: 0 when every
    * active conversation contributed equally, → 1 as one conversation
    * dominates the day's traffic. The inequality lens on the same
    * (day, conv) census [[dayActivityRank]] ranks row-by-row — one
    * scalar per day for drift dashboards ("is the corpus becoming a
    * few whale conversations?"), where the rank view answers per-conv
    * questions.
    *
    * Computed by the rank formula over the ascending-sorted counts
    * `G = (2·Σ rᵢxᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ)` with r = 1..n assigned
    * by (x, conv_id) row_number. Rank ties share equal x, and any
    * permutation of tied ranks leaves Σ r·x unchanged (the tied block's
    * rank sum is fixed), so the value is well-defined; the conv_id
    * tiebreak just makes the intermediate deterministic. Σ r·x
    * PRE-casts to decimal(38,0) (r·x ≤ n·x breaches a Long at ~10⁹
    * conversations × 10⁹ turns — the [[pearsonPairCorr]] overflow
    * doctrine); the final expression is ONE fixed-shape double
    * division mirrored operand-for-operand by the oracle, round 6.
    * n ≥ 1 and Σx ≥ n ≥ 1 always hold (a census row is a nonempty
    * count), so no zero-denominator gate is needed.
    *
    * Null ts drops (time axis); null conv_id drops (no identity to
    * attribute turns to — [[graft.ingest.Transcripts.splitValid]]
    * doctrine).
    *
    * Scale: the (day, conv) census partial-aggregates map-side (first
    * exchange moves collapsed pairs, not raw rows); the rank window
    * and the day reduction re-cluster that census by day (second
    * exchange, conversations-per-day scale). A skewed day holds all
    * its convs in one window partition — at 10⁹ convs/day consider
    * the two-phase salted variant of the rank; the census frame, not
    * raw turns, bounds that cost.
    */
  def dailyGini(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val census = transcripts
      .filter(col("ts").isNotNull && col("conv_id").isNotNull)
      .select(dayStartCol.as("day"),
        col("conv_id"))
      .groupBy(col("day"), col("conv_id"))
      .agg(count(lit(1)).as("x"))
    val wRank = Window.partitionBy(col("day"))
      .orderBy(col("x"), col("conv_id"))
    val m = census
      .withColumn("_r", row_number().over(wRank).cast("long"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("convs"),
        sum(col("x")).as("turns"),
        sum(col("_r").cast("decimal(38,0)") * col("x")).as("_srx"))
    m.select(col("day"), col("convs"), col("turns"),
      round(
        (lit(2d) * col("_srx").cast("double")
          - (col("convs") + lit(1L)).cast("double") * col("turns").cast("double"))
          / (col("convs").cast("double") * col("turns").cast("double")),
        6).as("gini"))
  }

  /** Conversation survival curve — for each observed conversation
    * length n (in turns): how many conversations reached EXACTLY n
    * turns, how many survived AT LEAST n turns, and the surviving
    * fraction of the corpus. The engagement-funnel readout every
    * transcript corpus gets profiled with ("half the conversations die
    * within 3 turns"), and the distribution the retention tiers'
    * per-conv rollups summarize pointwise.
    *
    * All counts are exact longs; the fraction is one double division,
    * round 6. Conversation length counts ALL rows of the conversation
    * (a turn with null ts/text is still a turn — [[convLifecycle]]'s
    * n_turns convention at histogram grain); null conv_id drops.
    *
    * Scale: per-conv counts partial-aggregate map-side (ONE real
    * exchange); the histogram collapses those to ≤ |distinct lengths|
    * rows — metadata scale, like [[RefOps.lenHistogram]] — and the
    * suffix-cumulative and total windows run single-partition over
    * that tiny frame (the [[seasonalResidual]] reading: thousands of
    * rows even at 10¹² turns).
    */
  def survivalCurve(transcripts: DataFrame): DataFrame = {
    val hist = transcripts
      .filter(col("conv_id").isNotNull)
      .groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_turns"))
      .groupBy(col("n_turns"))
      .agg(count(lit(1)).as("convs_at"))
    val wSuffix = Window.orderBy(col("n_turns").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("surviving", sum(col("convs_at")).over(wSuffix))
      .withColumn("_total", sum(col("convs_at")).over(wAll))
      .select(col("n_turns"), col("convs_at"), col("surviving"),
        round(col("surviving").cast("double") / col("_total").cast("double"), 6)
          .as("survival_frac"))
  }

  /** Consecutive-active-day streaks per conversation — the classic
    * gaps-and-islands analysis: total active days, number of distinct
    * streaks (maximal runs of consecutive UTC days with ≥ 1 turn), the
    * longest streak, and the calendar span. The habit/recency shape
    * [[convLifecycle]]'s active_days flattens: 10 active days can be
    * one 10-day run or 10 isolated visits, and downstream cohort
    * models treat those very differently.
    *
    * Islands via the day_num − row_number trick: within a
    * conversation, consecutive day numbers share one group key. Day
    * numbers are exact integer µs arithmetic (floor-to-day then exact
    * division — no calendar fields, NTZ guard only); every output is
    * an exact long, so the oracle match carries no float clause at
    * all. Null ts drops (time axis), null conv_id drops (identity).
    *
    * Scale: three strictly-collapsing exchanges — the (conv, day)
    * distinct census (map-side partial), the conv_id rank window over
    * that census (active-day-scale rows), and the per-conv streak
    * reduction (streak-scale rows). Raw turns move only in the first,
    * and it shuffles collapsed (conv, day) pairs, not rows.
    */
  def activeStreaks(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val days = transcripts
      .filter(col("ts").isNotNull && col("conv_id").isNotNull)
      .select(col("conv_id"), dayNumCol.as("day_num"))
      .distinct()
    val wConv = Window.partitionBy(col("conv_id")).orderBy(col("day_num"))
    days
      .withColumn("_grp", col("day_num") - row_number().over(wConv).cast("long"))
      .groupBy(col("conv_id"), col("_grp"))
      .agg(count(lit(1)).as("_len"),
        min(col("day_num")).as("_d0"), max(col("day_num")).as("_d1"))
      .groupBy(col("conv_id"))
      .agg(sum(col("_len")).as("active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("_len")).as("longest_streak"),
        (max(col("_d1")) - min(col("_d0")) + lit(1L)).as("span_days"))
  }

  /** Day-grain growth accounting — for each UTC day: active
    * conversations, conversations seen for the FIRST time that day,
    * returning conversations, and the running total of distinct
    * conversations ever seen. The daily readout of the same first-seen
    * census [[cohortRetention]] pivots into cohort×age cells — growth
    * dashboards want this exact new/returning/cumulative split.
    *
    * All outputs are exact longs. First-seen is the min active day per
    * conversation (a window over the distinct census's conv
    * clustering); the cumulative count is the classic first-flag
    * running sum over the DAY series. Null ts drops (time axis), null
    * conv_id drops (identity).
    *
    * Scale: the distinct (conv, day) census partial-aggregates
    * map-side (ONE raw exchange); the first-seen window re-clusters
    * that census by conv (active-day-scale); the day reduction and the
    * single-partition running sum are metadata-scale (thousands of day
    * rows — the [[seasonalResidual]] reading).
    */
  def newVsReturning(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val active = transcripts
      .filter(col("ts").isNotNull && col("conv_id").isNotNull)
      .select(col("conv_id"),
        dayStartCol.as("day"))
      .distinct()
    val wConv = Window.partitionBy(col("conv_id"))
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    active
      .withColumn("_first", col("day") === min(col("day")).over(wConv))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("active_convs"),
        sum(when(col("_first"), 1L).otherwise(0L)).as("new_convs"))
      .withColumn("returning_convs", col("active_convs") - col("new_convs"))
      .withColumn("cum_convs", sum(col("new_convs")).over(wCum))
  }

  /** Tool adoption curves — per (tool, day): how many conversations
    * used the tool for the FIRST time that day, and the cumulative
    * count of conversations that have ever used it. The per-tool
    * sibling of [[newVsReturning]] and the conversion view of
    * [[termVocabGrowth]]'s first-flag machinery: "how fast is the
    * corpus adopting `browse`?".
    *
    * All outputs are exact longs. First use is the min active day per
    * (conv, tool) — an aggregate, not a window, because the (conv,
    * tool) census IS the grain; the cumulative sum is a per-tool
    * window over the metadata-scale (tool, day) frame. Null tool is
    * the no-call marker (never adopted); null ts / conv_id drop.
    *
    * Scale: the (conv, tool) min-day census partial-aggregates
    * map-side (ONE raw exchange); the (tool, day) adoption counts and
    * the per-tool running sums are toolbox×days-scale.
    */
  def toolAdoption(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val firstUse = transcripts
      .filter(col("ts").isNotNull && col("conv_id").isNotNull &&
        col("tool").isNotNull)
      .select(col("conv_id"), col("tool"),
        dayStartCol.as("_day"))
      .groupBy(col("conv_id"), col("tool"))
      .agg(min(col("_day")).as("day"))
    val wTool = Window.partitionBy(col("tool")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstUse
      .groupBy(col("tool"), col("day"))
      .agg(count(lit(1)).as("new_convs"))
      .withColumn("cum_convs", sum(col("new_convs")).over(wTool))
  }

  /** Daily duplication monitor — per UTC day: turns carrying text, the
    * number of DISTINCT texts, the duplicated-turn count (turns minus
    * distinct), the largest single clone family, and the duplication
    * rate. A contamination spike ("yesterday 40% of turns were
    * copies") reads directly off this series, where a corpus-grain
    * dedup only says the corpus total.
    *
    * Texts are keyed by md5 (whole-text identity — the shuffle moves 32-hex-char keys, not document bodies; the
    * oracle mirrors md5 term-for-term so collisions, were one ever to
    * occur, would affect both engines identically). Null text carries
    * no content and drops from duplication accounting; null ts drops
    * (time axis). All counts exact longs; the rate is one rounded
    * division.
    *
    * Scale: the (day, md5) census partial-aggregates map-side — the
    * ONE raw-scale exchange moves collapsed (day, hash, count) rows —
    * and the per-day reduction over the census is distinct-text scale.
    */
  def dailyDupRate(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    transcripts
      .filter(col("ts").isNotNull && col("text").isNotNull)
      // unhex halves the shuffled key bytes (16-byte binary digest vs
      // the 32-char hex string) with IDENTICAL grouping: unhex∘md5 is
      // a bijection of md5's image, and no hash column reaches the
      // output, so the oracle's hex grouping partitions rows the same
      .select(dayStartCol.as("day"),
        unhex(md5(col("text"))).as("_h"))
      .groupBy(col("day"), col("_h"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col("day"))
      .agg(sum(col("_c")).as("text_turns"),
        count(lit(1)).as("distinct_texts"),
        (sum(col("_c")) - count(lit(1))).as("dup_turns"),
        max(col("_c")).as("max_clone"))
      .withColumn("dup_rate",
        round(col("dup_turns").cast("double") /
          col("text_turns").cast("double"), 6))
  }

  /** Per-conversation burstiness — the Fano factor (variance-to-mean
    * ratio) of the conversation's daily turn-count series over its
    * calendar span, SILENT DAYS INCLUDED as real zeros: 0 for a
    * perfectly regular one-turn-per-day cadence, ~mean for Poisson
    * arrivals, large when activity clumps into bursts. The
    * whole-lifetime dispersion scalar [[RefOps.burstFlags]]'s windowed
    * threshold flags localize and [[activeStreaks]]'s run lengths
    * complement.
    *
    * Zero days enter ANALYTICALLY, not as materialized rows: over span
    * D with per-active-day counts c, `F = (D·Σc² − S²)/(D·S)` with
    * S = Σc — population variance over all D days divided by the mean.
    * Both moments are exact integers (Σc² precast to decimal(38,0) —
    * the [[pearsonPairCorr]] overflow doctrine), the result ONE
    * fixed-shape double expression, round 6. S ≥ 1 and D ≥ 1 always
    * (an active conversation has a day), so no zero gate. Null ts
    * drops (time axis), null conv_id drops (identity).
    *
    * Scale: the (conv, day) census partial-aggregates map-side (ONE
    * raw exchange); the per-conv moment reduction exchanges the
    * active-day-scale census.
    */
  def convBurstiness(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val census = transcripts
      .filter(col("ts").isNotNull && col("conv_id").isNotNull)
      .select(col("conv_id"), dayNumCol.as("day_num"))
      .groupBy(col("conv_id"), col("day_num"))
      .agg(count(lit(1)).as("c"))
    val m = census
      .groupBy(col("conv_id"))
      .agg(count(lit(1)).as("active_days"),
        (max(col("day_num")) - min(col("day_num")) + lit(1L)).as("span_days"),
        sum(col("c")).as("turns"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("_scc"))
    m.select(col("conv_id"), col("span_days"), col("active_days"),
      col("turns"),
      round(
        (col("span_days").cast("double") * col("_scc").cast("double")
          - col("turns").cast("double") * col("turns").cast("double"))
          / (col("span_days").cast("double") * col("turns").cast("double")),
        6).as("fano"))
  }

  /** Character half-life — how front-loaded a conversation's content
    * is: the first turn position (in canonical turn order) at which
    * the running character total reaches HALF the conversation's
    * total, as a position and as a fraction of the turn count. A
    * half_frac near 0 is a dump-then-chat transcript (one giant paste
    * up front); near 0.5 is evenly spread content — a shape signal
    * the per-turn length stats flatten.
    *
    * The crossing test is pure integer comparison (`2·cum ≥ total` —
    * no division, no midpoint rounding); half_frac is the one rounded
    * double. Order is turn_idx alone (the canonical unique order,
    * [[ohlcCandles]] doctrine). Null text and null turn_idx drop the
    * observation ([[RefOps.ewma]] input contract); conversations with
    * no text rows yield no row.
    *
    * Scale: ONE conv_id exchange — the cumulative window, the
    * whole-partition total, and the crossing reduction all share the
    * conv clustering.
    */
  def charHalfLife(transcripts: DataFrame): DataFrame = {
    val wCum = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("conv_id"))
    transcripts
      .filter(col("conv_id").isNotNull && col("turn_idx").isNotNull &&
        col("text").isNotNull)
      .select(col("conv_id"), col("turn_idx"),
        length(col("text")).cast("long").as("_len"))
      .withColumn("_cum", sum(col("_len")).over(wCum))
      .withColumn("_pos", row_number().over(
        Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))).cast("long"))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_total", sum(col("_len")).over(wAll))
      .filter(col("_cum") * lit(2L) >= col("_total"))
      .groupBy(col("conv_id"))
      .agg(max(col("_n")).as("n_turns"),
        max(col("_total")).as("total_chars"),
        min(col("_pos")).as("half_pos"))
      .withColumn("half_frac",
        round(col("half_pos").cast("double") / col("n_turns").cast("double"), 6))
  }

  /** Daily whale conversations — the top-`k` conversations per UTC day
    * by turn count, with the day total and each whale's share: the
    * drill-down companion to [[dailyGini]]'s concentration scalar
    * ("WHICH conversations make today unequal?") and the conv-grain
    * sibling of [[heavyHittersDaily]]'s tool ranking.
    *
    * The cutoff is the total order (turns DESC, conv_id ASC) — stable
    * in both engines; rank is row_number over that order, so exactly
    * k rows per day (fewer only when the day has fewer active
    * conversations). Share is ONE rounded division. Null ts /
    * conv_id drop.
    *
    * Scale: the (day, conv) census partial-aggregates map-side (ONE
    * raw exchange); the rank and day-total windows share one
    * day-clustered exchange over the census, and the rank-≤-k filter
    * pushes down as a WindowGroupLimit, so no day's full census ever
    * reaches the final projection.
    */
  def whaleConvsDaily(transcripts: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val census = transcripts
      .filter(col("ts").isNotNull && col("conv_id").isNotNull)
      .select(dayStartCol.as("day"),
        col("conv_id"))
      .groupBy(col("day"), col("conv_id"))
      .agg(count(lit(1)).as("turns"))
    val wRank = Window.partitionBy(col("day"))
      .orderBy(col("turns").desc, col("conv_id"))
    val wDay = Window.partitionBy(col("day"))
    census
      .withColumn("day_turns", sum(col("turns")).over(wDay))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("day"), col("rank"), col("conv_id"), col("turns"),
        col("day_turns"),
        round(col("turns").cast("double") / col("day_turns").cast("double"), 6)
          .as("share"))
  }

  /** Day-grain conversation concurrency — the sweep-line readout every
    * timeseries engine keeps for "how many series are live right now":
    * per UTC day, how many conversations OPENED (first turn), CLOSED
    * (last turn), and were OPEN (span covers the day, first ≤ d ≤
    * last), on the complete calendar grid between the corpus's first
    * and last active day — silent middle days appear with their true
    * open count, which [[newVsReturning]]'s active-day census (only
    * days with traffic) cannot show.
    *
    * The sweep-line is collapsed to day grain analytically: open(d) =
    * cum_opened(d) − cum_closed(d−1), so no conversation is ever
    * expanded to its span days — a 10⁹-conversation corpus moves
    * exactly one (conv → min/max day) census, folds both endpoints
    * into ONE (+open, +close) event stream, and densifies the day
    * frame with the [[graft.gapfill.GapFill]] lead-`sequence()` idiom
    * instead of a separate bounds frame + grid joins — the naive
    * grid-join form re-scanned raw THREE times (spans, opened,
    * closed subtrees; Catalyst does not CSE independent subtrees).
    * All outputs exact longs. Null ts drops (time axis), null conv_id
    * drops (identity).
    *
    * Scale: the per-conv span census partial-aggregates map-side (ONE
    * raw exchange, min/max combine); the endpoint-event day reduction
    * (2 rows per conversation, partial map-side) and the
    * single-partition lead/cumsum windows run on metadata-scale day
    * frames (thousands of rows — the [[seasonalResidual]] reading).
    * ONE raw scan, THREE exchanges, ZERO joins — plan-pinned.
    */
  def convConcurrency(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val dayUs = 86400L * 1000000L
    val dayNum = dayNumCol
    val events = transcripts
      .filter(col("ts").isNotNull && col("conv_id").isNotNull)
      .select(col("conv_id"), dayNum.as("_d"))
      .groupBy(col("conv_id"))
      .agg(min(col("_d")).as("_d0"), max(col("_d")).as("_d1"))
      // both endpoints as ONE event stream: (+1 open on _d0, +1 close
      // on _d1) — no second pass over the census
      .select(explode(array(
        struct(col("_d0").as("day_num"), lit(1L).as("o"), lit(0L).as("c")),
        struct(col("_d1").as("day_num"), lit(0L).as("o"), lit(1L).as("c"))))
        .as("_e"))
      .groupBy(col("_e.day_num").as("day_num"))
      .agg(sum(col("_e.o")).as("opened"), sum(col("_e.c")).as("closed"))
    // densify to the full calendar grid between consecutive OBSERVED
    // endpoint days (GapFill's lead + sequence idiom): generated
    // middle days carry zero opened/closed but stay in the cumsums
    val wDay = Window.orderBy(col("day_num"))
    val wCum = Window.orderBy(col("day_num"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("_next", lead(col("day_num"), 1).over(wDay))
      .select(col("day_num").as("_obs"), col("opened").as("_o"),
        col("closed").as("_c"),
        explode(sequence(col("day_num"),
          coalesce(col("_next") - lit(1L), col("day_num")))).as("day_num"))
      .select(col("day_num"),
        when(col("day_num") === col("_obs"), col("_o")).otherwise(0L)
          .as("opened"),
        when(col("day_num") === col("_obs"), col("_c")).otherwise(0L)
          .as("closed"))
      .withColumn("_co", sum(col("opened")).over(wCum))
      .withColumn("_cc", sum(col("closed")).over(wCum))
      .select(timestamp_micros(col("day_num") * lit(dayUs)).as("day"),
        col("opened"), col("closed"),
        // cum_opened(d) − cum_closed(d−1): closed-on-d convs still
        // count as open THAT day (a conv is open on both endpoints)
        (col("_co") - col("_cc") + col("closed")).as("open_convs"))
  }

  /** Day-over-day toolset churn — between each active day and the
    * PREVIOUS active day: how many distinct tools were kept, newly
    * added, and dropped, plus the Jaccard overlap of the two toolsets.
    * The set-membership lens on tool drift that [[toolPairCorrelation]]
    * (co-movement of counts) and [[toolAdoption]] (first use ever)
    * don't give: "did yesterday's toolbox survive into today?".
    *
    * Consecutive means consecutive OBSERVED tool-active days (lag over
    * the day frame), so an idle weekend compares Monday against
    * Friday instead of fabricating empty sets; the first active day
    * has no predecessor and emits no row. Kept/added/dropped are
    * exact longs; jaccard = kept / (cur + prev − kept) is the ONE
    * rounded division and its denominator is ≥ max(cur, prev) ≥ 1 by
    * construction. Null tool is the no-call marker (never a set
    * member); null ts drops (time axis).
    *
    * The set algebra rides `collect_set` + `lag` + `array_intersect`
    * on the day frame — NOT a census self-join, whose plan re-scanned
    * raw three times (Catalyst does not CSE independent subtrees) and
    * paid four joins. `collect_set(tool)` per day is bounded by
    * |toolbox| (a config-scale constant, [[toolPairCorrelation]]
    * doctrine), so the per-day set is a scalar-sized buffer, and set
    * intersection size is order-independent — the join-based oracle
    * computes identical numbers.
    *
    * Scale: the per-day set aggregation partial-merges map-side (ONE
    * raw exchange, sets bounded by |toolbox|); the lag window and the
    * per-row set algebra run on the metadata-scale day frame. ONE raw
    * scan, TWO exchanges, ZERO joins — plan-pinned.
    */
  def toolsetChurn(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val dayUs = 86400L * 1000000L
    val dayNum = dayNumCol
    val wDay = Window.orderBy(col("day_num"))
    transcripts
      .filter(col("ts").isNotNull && col("tool").isNotNull)
      .select(dayNum.as("day_num"), col("tool"))
      .groupBy(col("day_num"))
      .agg(collect_set(col("tool")).as("_tools"))
      .withColumn("_prev_day", lag(col("day_num"), 1).over(wDay))
      .withColumn("_prev", lag(col("_tools"), 1).over(wDay))
      .filter(col("_prev_day").isNotNull)
      .select(timestamp_micros(col("day_num") * lit(dayUs)).as("day"),
        timestamp_micros(col("_prev_day") * lit(dayUs)).as("prev_day"),
        size(col("_tools")).cast("long").as("cur_tools"),
        size(col("_prev")).cast("long").as("prev_tools"),
        size(array_intersect(col("_tools"), col("_prev"))).cast("long")
          .as("kept"))
      .withColumn("added", col("cur_tools") - col("kept"))
      .withColumn("dropped", col("prev_tools") - col("kept"))
      .withColumn("jaccard",
        round(col("kept").cast("double") /
          (col("cur_tools") + col("prev_tools") - col("kept")).cast("double"),
          6))
  }

  /** Record-breaking days — for each UTC day: total turns, the running
    * all-time high BEFORE that day, whether the day set a new record,
    * the running record count, and the days elapsed since the last
    * record. The record-statistics lens on the day series ("are we
    * still setting highs, and how long since the last one?") that
    * [[dayActivityRank]] (within-day conv ranks) and
    * [[RefOps.burstFlags]] (windowed threshold) don't cover.
    *
    * The first day is a record by convention (a max over an empty
    * prefix); is_record is emitted as 0/1 long — every output column
    * is an exact long, no float clause at all (the [[activeStreaks]]
    * doctrine). days_since_record counts calendar days from the most
    * recent record day INCLUDING the current one (0 on record days).
    * Null ts drops (time axis).
    *
    * Scale: the day census partial-aggregates map-side (ONE raw
    * exchange); every window runs on the metadata-scale day frame
    * (thousands of rows — the [[seasonalResidual]] reading).
    */
  def recordDays(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val dayUs = 86400L * 1000000L
    val dayNum = dayNumCol
    val daily = transcripts
      .filter(col("ts").isNotNull)
      .select(dayNum.as("day_num"))
      .groupBy(col("day_num"))
      .agg(count(lit(1)).as("turns"))
    val wPrev = Window.orderBy(col("day_num"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("day_num"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("prev_max", max(col("turns")).over(wPrev))
      .withColumn("is_record",
        when(col("prev_max").isNull || col("turns") > col("prev_max"), 1L)
          .otherwise(0L))
      .withColumn("record_no", sum(col("is_record")).over(wCum))
      .withColumn("days_since_record",
        col("day_num") -
          max(when(col("is_record") === 1L, col("day_num"))).over(wCum))
      .select(timestamp_micros(col("day_num") * lit(dayUs)).as("day"),
        col("turns"), col("prev_max"), col("is_record"), col("record_no"),
        col("days_since_record"))
  }

  /** Daily Lorenz deciles — per UTC day, conversations bucketed into
    * `buckets` equal-population tiles by turn count (ascending), with
    * each tile's conversation count, turn mass, and the cumulative
    * share of the day's turns: the curve behind [[dailyGini]]'s
    * concentration scalar ("the bottom 50% of conversations carry 8%
    * of the turns") and the distributional face of
    * [[whaleConvsDaily]]'s top-k drill-down.
    *
    * Tile assignment is `ntile` over the total order (turns ASC,
    * conv_id ASC) — the SQL-standard split (earlier tiles take the
    * remainder), deterministic in both engines. Counts and turn sums
    * are exact longs; cum_share = cum_turns / day_turns is the ONE
    * rounded division per row, both operands exact. Null ts / conv_id
    * drop ([[dailyGini]] doctrine).
    *
    * Scale: the (day, conv) census partial-aggregates map-side (ONE
    * raw exchange); the ntile window sorts each day's census inside
    * its day cluster — the [[dailyGini]] scale envelope (per-day conv
    * cardinality, the engine's accepted rank-window cost); the tile
    * reduction collapses map-side to ≤ buckets rows per day before
    * its exchange, and the share windows run on that metadata-scale
    * frame.
    */
  def lorenzDeciles(transcripts: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      s"buckets must be in [2, 1000], got $buckets")
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val census = transcripts
      .filter(col("ts").isNotNull && col("conv_id").isNotNull)
      .select(dayStartCol.as("day"),
        col("conv_id"))
      .groupBy(col("day"), col("conv_id"))
      .agg(count(lit(1)).as("_turns"))
    val wTile = Window.partitionBy(col("day"))
      .orderBy(col("_turns"), col("conv_id"))
    val wDay = Window.partitionBy(col("day"))
    val wCum = Window.partitionBy(col("day")).orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census
      .withColumn("decile", ntile(buckets).over(wTile).cast("long"))
      .groupBy(col("day"), col("decile"))
      .agg(count(lit(1)).as("convs"), sum(col("_turns")).as("decile_turns"))
      .withColumn("day_turns", sum(col("decile_turns")).over(wDay))
      .withColumn("cum_turns", sum(col("decile_turns")).over(wCum))
      .select(col("day"), col("decile"), col("convs"), col("decile_turns"),
        col("day_turns"), col("cum_turns"),
        round(col("cum_turns").cast("double") /
          col("day_turns").cast("double"), 6).as("cum_share"))
  }

  /** Daily turn-length histogram over [[distDrift]]'s digit-count
    * buckets — the raw (day, bucket, n) census the drift monitor
    * consumes, exposed as its own readout ("what does today's length
    * mix look like?"): per-bucket counts are plain sums, so the
    * histogram MERGES across partitions where the drift statistic
    * itself (a two-day comparison) does not. Exact longs only. Null
    * ts / text drop.
    *
    * Scale: ONE raw scan, ONE exchange — the census
    * partial-aggregates map-side to ≤ 19 rows per (task, day).
    */
  def lengthHistogramDaily(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val dayUs = 86400L * 1000000L
    transcripts
      .filter(col("ts").isNotNull && col("text").isNotNull)
      .select(dayNumCol.as("_day_num"),
        lenBucketCol.as("bucket"))
      .groupBy(col("_day_num"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(timestamp_micros(col("_day_num") * lit(dayUs)).as("day"),
        col("bucket"), col("n"))
  }

  /** Day-over-day distribution drift — for each UTC day vs the
    * previous OBSERVED text day: the Kolmogorov-Smirnov statistic
    * (max CDF gap) and total-variation distance between the two days'
    * turn-length distributions, bucketed by the decimal digit count
    * of the character length. The distribution-shift monitor a
    * training-data pipeline runs daily ("yesterday's corpus suddenly
    * skews short") — a shape lens the mean/percentile day series
    * ([[RefOps.turnGapStats]], [[dailyDeltas]]) can't see.
    *
    * The digit-count bucket (`length(cast(len as string))`) is exact
    * integer text algebra — no log2 float boundary, identical in both
    * engines. Both distances keep EXACT integer numerators to the
    * end: cross-multiplied CDF gaps `|cum_d·n_prev − cum_prev·n_d|`
    * (decimal(38,0) precast — day counts can reach 10¹⁴ at corpus
    * scale, [[pearsonPairCorr]] doctrine) so the bucket-sum/max is
    * order-independent, then ONE double division each, round 6.
    *
    * The bucket universe is a COMPILE-TIME constant (an int length
    * has 1-19 decimal digits), so day alignment needs no day×bucket
    * grid at all: each day collapses to a bucket→count map, `lag`
    * pairs consecutive observed days, and a literal `sequence(1, 19)`
    * explode re-materializes both days' zero-filled histograms — the
    * grid form paid two cross/left joins and re-scanned raw three
    * times for the day/bucket distincts. Buckets silent on both days
    * contribute zero to both distances, so the constant universe is
    * semantically identical to the observed-bucket grid (the
    * join-based oracle mirrors it). Null ts / text drop.
    *
    * Scale: the (day, bucket) census partial-aggregates map-side (ONE
    * raw scan, ≤ 19 buckets per day per task); the per-day map
    * reduction, the lag window, and the 19-way explode all run on
    * metadata-scale day frames. THREE exchanges, ZERO joins —
    * plan-pinned.
    */
  def distDrift(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val dayUs = 86400L * 1000000L
    val dayNum = dayNumCol
    val perDay = transcripts
      .filter(col("ts").isNotNull && col("text").isNotNull)
      .select(dayNum.as("day_num"),
        lenBucketCol.as("bucket"))
      .groupBy(col("day_num"), col("bucket"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col("day_num"))
      .agg(map_from_arrays(collect_list(col("bucket")),
        collect_list(col("_c"))).as("_m"),
        sum(col("_c")).as("_n"))
    val wLag = Window.orderBy(col("day_num"))
    val wCum = Window.partitionBy(col("day_num")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    perDay
      .withColumn("_pm", lag(col("_m"), 1).over(wLag))
      .withColumn("_pn", lag(col("_n"), 1).over(wLag))
      .withColumn("_pday", lag(col("day_num"), 1).over(wLag))
      .filter(col("_pday").isNotNull)
      // zero-filled histograms for BOTH days over the constant
      // 19-bucket universe (try_element_at: missing key -> null -> 0)
      .select(col("day_num"), col("_pday"), col("_n"), col("_pn"),
        explode(sequence(lit(1L), lit(19L))).as("bucket"),
        col("_m"), col("_pm"))
      .select(col("day_num"), col("_pday"), col("_n"), col("_pn"),
        col("bucket"),
        coalesce(try_element_at(col("_m"), col("bucket")), lit(0L)).as("_c"),
        coalesce(try_element_at(col("_pm"), col("bucket")), lit(0L)).as("_pc"))
      .withColumn("_cum", sum(col("_c")).over(wCum))
      .withColumn("_pcum", sum(col("_pc")).over(wCum))
      .groupBy(col("day_num"))
      .agg(max(col("_pday")).as("_prev_day"),
        max(col("_n")).as("_nn"), max(col("_pn")).as("_pnn"),
        max(abs(dec(col("_cum")) * col("_pn") - dec(col("_pcum")) * col("_n")))
          .as("_ks_num"),
        sum(abs(dec(col("_c")) * col("_pn") - dec(col("_pc")) * col("_n")))
          .as("_tv_num"))
      .select(timestamp_micros(col("day_num") * lit(dayUs)).as("day"),
        timestamp_micros(col("_prev_day") * lit(dayUs)).as("prev_day"),
        col("_nn").as("day_texts"), col("_pnn").as("prev_texts"),
        round(col("_ks_num").cast("double") /
          (col("_nn").cast("double") * col("_pnn").cast("double")), 6)
          .as("ks_stat"),
        round(col("_tv_num").cast("double") /
          (lit(2.0) * col("_nn").cast("double") * col("_pnn").cast("double")),
          6).as("tv_dist"))
  }

  /** Daily top-term churn — between each text day and the previous
    * OBSERVED text day: how many of the day's top-`k` terms were
    * kept, newly arrived, and dropped, plus the Jaccard overlap of
    * the two top-sets. The vocabulary face of [[distDrift]]'s shape
    * alarm ("the corpus suddenly talks about something else") and the
    * TERM sibling of [[toolsetChurn]] — [[termVocabGrowth]] tracks
    * first-ever arrivals, this tracks headline turnover.
    *
    * Tokenization is the [[termTopK]] convention (single-space split,
    * empty fragments included); the top-set cutoff is the total order
    * (count DESC, term ASC) — deterministic in both engines. The set
    * algebra rides the [[toolsetChurn]] kernel: per-day `collect_set`
    * of the ≤ k winners + lag + `array_intersect`. Days with fewer
    * than k distinct terms contribute their full set (cur/prev sizes
    * carry it). Null ts / text drop.
    *
    * Scale: the (day, term) census partial-aggregates map-side (ONE
    * raw-token exchange — the [[termLift]] envelope); the per-day
    * rank window pushes a WindowGroupLimit so only ≤ k rows per day
    * survive to the set aggregation (which REUSES the day
    * clustering), and the lag window runs on the day frame.
    */
  def termChurnDaily(transcripts: DataFrame, k: Int = 50): DataFrame = {
    require(k >= 1 && k <= 100000, s"k must be in [1, 100000], got $k")
    val dayUs = 86400L * 1000000L
    val census = dayTermCensus(transcripts)
    val wRank = Window.partitionBy(col("day_num"))
      .orderBy(col("_c").desc, col("term"))
    val wLag = Window.orderBy(col("day_num"))
    census
      .withColumn("_r", row_number().over(wRank))
      .filter(col("_r") <= k)
      .groupBy(col("day_num"))
      .agg(collect_set(col("term")).as("_top"))
      .withColumn("_prev_day", lag(col("day_num"), 1).over(wLag))
      .withColumn("_prev", lag(col("_top"), 1).over(wLag))
      .filter(col("_prev_day").isNotNull)
      .select(timestamp_micros(col("day_num") * lit(dayUs)).as("day"),
        timestamp_micros(col("_prev_day") * lit(dayUs)).as("prev_day"),
        size(col("_top")).cast("long").as("cur_terms"),
        size(col("_prev")).cast("long").as("prev_terms"),
        size(array_intersect(col("_top"), col("_prev"))).cast("long")
          .as("kept"))
      .withColumn("added", col("cur_terms") - col("kept"))
      .withColumn("dropped", col("prev_terms") - col("kept"))
      .withColumn("jaccard",
        round(col("kept").cast("double") /
          (col("cur_terms") + col("prev_terms") - col("kept")).cast("double"),
          6))
  }

  /** Daily lexical diversity — per UTC text day: token mass, distinct
    * terms, hapax terms (frequency exactly 1 that day), the
    * type-token ratio, and the hapax share of the vocabulary. The
    * lexical-health day series ("the corpus is getting repetitive /
    * template-y") that complements [[dailyDupRate]] (whole-text
    * clones) and [[distDrift]] (length shape) at the vocabulary
    * grain — a collapsing TTR with a flat dup rate is boilerplate
    * creep that whole-text identity cannot see.
    *
    * Tokenization is the [[termTopK]] convention. Counts are exact
    * longs; ttr = distinct/tokens and hapax_share = hapax/distinct
    * are the two rounded divisions (denominators ≥ 1 whenever the
    * row exists: a text day has ≥ 1 token, and distinct ≥ 1 follows).
    * Null ts / text drop.
    *
    * Scale: the (day, term) census partial-aggregates map-side (ONE
    * raw-token exchange, the [[termLift]] envelope); the day
    * reduction moves the COLLAPSED term-scale frame and its
    * (day)-key exchange output is the metadata-scale day frame.
    */
  def typeTokenRatio(transcripts: DataFrame): DataFrame = {
    val dayUs = 86400L * 1000000L
    dayTermCensus(transcripts)
      .groupBy(col("day_num"))
      .agg(sum(col("_c")).as("tokens"),
        count(lit(1)).as("distinct_terms"),
        sum(when(col("_c") === 1L, 1L).otherwise(0L)).as("hapax_terms"))
      .select(timestamp_micros(col("day_num") * lit(dayUs)).as("day"),
        col("tokens"), col("distinct_terms"), col("hapax_terms"),
        round(col("distinct_terms").cast("double") /
          col("tokens").cast("double"), 6).as("ttr"),
        round(col("hapax_terms").cast("double") /
          col("distinct_terms").cast("double"), 6).as("hapax_share"))
  }

  /** Daily shingle novelty — per UTC text day: how much of the day's
    * 3-gram shingle content has NEVER appeared before, as a share of
    * the day's distinct shingles and of its shingle occurrences. The
    * corpus-freshness KPI a training-data pipeline reads daily ("is
    * the crawl still finding new text, or re-ingesting the same
    * phrases?") — the SHINGLE-grain lens between [[dailyDupRate]]
    * (whole-text identity) and [[termVocabGrowth]] (single tokens
    * ever): boilerplate creep shows here first, before whole texts
    * collide.
    *
    * Shingles are the engine's ONE canonical text-identity unit: the
    * native [[graft.functions.TextOps.shingleHashes3]] expression
    * (3-word grams, short texts collapse to a whole-text shingle, the
    * 28-bit md5-prefix hash) — built from `md5`, `substr` and `split`,
    * which both engines share, so the oracle reconstructs it
    * term-for-term. First-seen is min day per hash
    * over the collapsed census ([[termVocabGrowth]] first-flag
    * machinery). Counts exact longs; the two novelty rates are the
    * rounded divisions, denominators ≥ 1 by row existence. Null ts /
    * text drop.
    *
    * Scale: the (day, h28) census partial-aggregates map-side (ONE
    * raw-shingle exchange — hashes shuffle, never text); the
    * first-seen window re-clusters the COLLAPSED census by hash
    * (distinct-shingle scale); the day reduction is metadata-scale.
    */
  def shingleNoveltyDaily(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val dayUs = 86400L * 1000000L
    val census = transcripts
      .filter(col("ts").isNotNull && col("text").isNotNull)
      .select(dayNumCol.as("day_num"),
        explode(graft.functions.TextOps.shingleHashes3(col("text"))).as("h"))
      .groupBy(col("day_num"), col("h"))
      .agg(count(lit(1)).as("_c"))
    val wH = Window.partitionBy(col("h"))
    census
      .withColumn("_first", min(col("day_num")).over(wH))
      .groupBy(col("day_num"))
      .agg(sum(col("_c")).as("shingle_occ"),
        count(lit(1)).as("distinct_shingles"),
        sum(when(col("_first") === col("day_num"), 1L).otherwise(0L))
          .as("new_shingles"),
        sum(when(col("_first") === col("day_num"), col("_c")).otherwise(0L))
          .as("new_occ"))
      .select(timestamp_micros(col("day_num") * lit(dayUs)).as("day"),
        col("shingle_occ"), col("distinct_shingles"), col("new_shingles"),
        col("new_occ"),
        round(col("new_shingles").cast("double") /
          col("distinct_shingles").cast("double"), 6).as("novelty_rate"),
        round(col("new_occ").cast("double") /
          col("shingle_occ").cast("double"), 6).as("occ_novelty_rate"))
  }

  /** Dynamic-time-warping distance between the daily-turn-count series
    * of the `k` most active conversations — the classic elastic
    * similarity measure (Sakoe & Chiba 1978; Berndt & Clifford 1994)
    * that aligns series of DIFFERENT lengths and phases, where the
    * Euclidean/Pearson family ([[toolPairCorrelation]]) requires
    * aligned same-length grids. Series = the conversation's turn count
    * per OBSERVED UTC day in day order (gaps skipped — DTW's elastic
    * alignment is exactly the tool that absorbs them), sliced to the
    * trailing `maxDays` days so the O(n·m) DP cost is bounded by a
    * declared tunable, never by the data.
    *
    * The DP has no max-plus closed form (unlike [[RefOps.cusumChangepoint]]):
    * `dp[i][j] = |aᵢ−bⱼ| + min(dp[i−1][j], dp[i][j−1], dp[i−1][j−1])` is
    * a genuine two-axis recurrence, so it runs as a NESTED ordered fold
    * — `aggregate` over the rows of `a` carrying the previous DP row,
    * `aggregate` over `1..m` building the new row left-to-right (the
    * [[RefOps.ewma]] fold family, two levels deep). All state is exact
    * longs (counts and |Δcount| sums), so the oracle's identical
    * `list_reduce` fold is hash-exact. The ∞ sentinel seeds the j=0
    * column and the i=0 row; it is COMPARED but never added (every
    * `min` on the first row/column has a finite operand), so overflow
    * is structurally impossible.
    *
    * Ranking: top-`k` by total turns over the SLICED window, conv_id
    * tiebreak — the (total, conv_id) key is unique, so the sort-limit
    * is deterministic. Pairs are canonical `conv_a < conv_b`.
    *
    * Scale: the (conv_id, day) census partial-aggregates map-side (one
    * exchange), the series gather re-keys the COLLAPSED census by
    * conv_id (≤ 366 rows each), and the top-k is a TakeOrdered of
    * (k·maxDays)-bounded rows; the pair join is k² driver-scale rows,
    * each paying an O(maxDays²) fold — cost is k²·maxDays²/2 lambda
    * steps, a declared constant independent of corpus size.
    */
  def dtwPairs(transcripts: DataFrame, k: Int = 8, maxDays: Int = 64): DataFrame = {
    require(k >= 2 && k <= 64, s"k must be in [2, 64], got $k")
    require(maxDays >= 2 && maxDays <= 366,
      s"maxDays must be in [2, 366], got $maxDays")
    val census = dayTurnCensus(transcripts, "cnt")
    val series = census
      .groupBy(col("conv_id"))
      // day is unique per conversation, so the struct sort is a total
      // order and the transform projects counts in day order
      .agg(expr("transform(sort_array(collect_list(struct(day, cnt))), s -> s.cnt)")
        .as("vals0"))
      .select(col("conv_id"),
        expr(s"slice(vals0, greatest(1, size(vals0) - ${maxDays - 1}), $maxDays)")
          .as("vals"))
      .select(col("conv_id"), col("vals"),
        size(col("vals")).cast("long").as("n"),
        expr("aggregate(vals, 0L, (s, v) -> s + v)").as("total"))
      .orderBy(col("total").desc, col("conv_id").asc)
      .limit(k)
      // ≤ k rows referenced TWICE by the pair self-join: localCheckpoint
      // ([[toolLeadLag]] rationale) runs the census pipeline once —
      // without it each join side re-scans and re-aggregates the corpus
      .localCheckpoint()
    val a = series.select(col("conv_id").as("conv_a"), col("vals").as("va"),
      col("n").as("n_a"))
    val b = series.select(col("conv_id").as("conv_b"), col("vals").as("vb"),
      col("n").as("n_b"))
    a.join(b, col("conv_a") < col("conv_b"))
      .select(col("conv_a"), col("conv_b"), col("n_a"), col("n_b"),
        graft.functions.VectorOps.dtwDistance(col("va"), col("vb")).as("dtw"))
  }

  /** The nested-fold DTW kernel over two bigint array columns —
    * retained as the PARITY REFERENCE for the compiled kernel that
    * replaced it on the hot path ([[graft.functions.VectorOps.dtwLong]];
    * the nested `aggregate` HOFs are CodegenFallback, one interpreted
    * lambda per DP cell, too slow for the k²·maxDays² pair workload). Row layout: list position p holds
    * dp[·][p−1], so position 1 is the j=0 sentinel column; the init
    * row is [0, ∞, …] (dp[0][0]=0). The DuckDB oracle runs the
    * IDENTICAL fold via struct-seeded 2-arg `list_reduce`, and
    * SeriesOpsSpec pins native ≡ this fold cell-for-cell — a change
    * to any of the three must change all in lockstep (the
    * [[pearsonPairCorr]] doctrine).
    */
  private[operators] def dtwFoldExpr(aCol: String, bCol: String): String = {
    val inf = "2305843009213693951L" // Long.MaxValue/4: compared, never added
    s"""aggregate(
       |  $aCol,
       |  concat(array(0L), transform($bCol, v -> $inf)),
       |  (row, x) -> aggregate(
       |    sequence(1, size($bCol)),
       |    array($inf),
       |    (p, j) -> concat(p, array(
       |      abs(x - element_at($bCol, j)) +
       |      least(element_at(row, j + 1), element_at(row, j),
       |            element_at(p, -1))))),
       |  row -> element_at(row, -1))""".stripMargin
  }

  /** Peak detection over each conversation's daily turn-count series:
    * a day is a peak when its count STRICTLY exceeds every count within
    * ±`w` OBSERVED days (row frames over the day-ordered census — gaps
    * between active days don't widen the neighborhood, matching the
    * observed-day convention of [[dailyDeltas]]). Boundary days with a
    * one-sided neighborhood qualify against the side that exists; an
    * isolated single-day conversation is trivially a peak — both pinned
    * by treating a missing side as 0 (counts are ≥ 1). `prominence` is
    * the margin over the tallest neighbor (= turn_count for the
    * isolated case).
    *
    * All-integer (counts and differences), so the oracle mirror is
    * hash-exact. One census exchange + one conv_id window pass over
    * the COLLAPSED census; the two frames share one Window sort.
    */
  def peakDays(transcripts: DataFrame, w: Int = 3): DataFrame = {
    require(w >= 1 && w <= 30, s"w must be in [1, 30], got $w")
    val ord = Window.partitionBy(col("conv_id")).orderBy(col("day"))
    dayTurnCensus(transcripts, "turn_count")
      .withColumn("_l", max(col("turn_count")).over(ord.rowsBetween(-w, -1)))
      .withColumn("_r", max(col("turn_count")).over(ord.rowsBetween(1, w)))
      .filter(col("turn_count") > coalesce(col("_l"), lit(0L)) &&
        col("turn_count") > coalesce(col("_r"), lit(0L)))
      .select(col("conv_id"), col("day"), col("turn_count"),
        (col("turn_count") -
          greatest(coalesce(col("_l"), lit(0L)), coalesce(col("_r"), lit(0L))))
          .as("prominence"))
  }

  /** Out-of-order (late-data) skew census — the statistic that SIZES A
    * STREAMING WATERMARK: per UTC day, how many events arrived with an
    * event time BEHIND their conversation's running high-water mark,
    * and by how much (p50/p95/max µs). Arrival order is `turn_idx`
    * (the ingest-order proxy — the reference processes rows in file
    * order, `CSVReader.java:245-249`); an event is LATE when some
    * earlier-arriving turn of the same conversation already carried a
    * later timestamp. `skew = hwm − ts` over late events is exactly
    * the delay bound `withWatermark` needs: a watermark of the
    * observed p95 admits 95% of this corpus's stragglers, and
    * [[graft.streaming.StreamingRollupJob]]'s tunable should be read
    * off this census rather than guessed.
    *
    * The first-arriving turn has no high-water mark and cannot be
    * late (empty frame → null hwm, matching the SQL 1-PRECEDING
    * frame). Quantiles are exact type-7 interpolations over integer
    * µs (≡ `quantile_cont`, the q18 guarantee), computed over LATE
    * events only — an all-on-time day reports nulls, not zeros (no
    * late population ≠ a zero-skew one). Null doctrine: null ts has
    * no event time, null turn_idx no arrival rank, null conv_id no
    * high-water lineage — all drop ([[ewma]] order-key rule).
    *
    * Scale: ONE conv_id exchange for the running-max window, one
    * day-grain reduction; the day key is derived from the event's own
    * timestamp, so the census never re-keys raw rows twice.
    */
  def outOfOrderSkew(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    transcripts
      .filter(col("ts").isNotNull && col("conv_id").isNotNull &&
        col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"), dayStartCol.as("day"),
        unix_micros(col("ts").cast("timestamp")).as("_us"))
      // hoisted so the running max is ONE window buffer (and the shape
      // mirrors the oracle's single hwm subquery column)
      .withColumn("_hwm", max(col("_us")).over(w))
      .withColumn("_skew",
        when(col("_hwm") > col("_us"), col("_hwm") - col("_us")))
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("events"),
        count(col("_skew")).as("late_events"),
        round(count(col("_skew")).cast("double") /
          count(lit(1)).cast("double"), 6).as("late_share"),
        // ONE percentile call ([[responseLatency]] idiom): two separate
        // aggregates would each buffer the full late population
        percentile(col("_skew"), array(lit(0.5), lit(0.95))).as("_q"),
        max(col("_skew")).as("skew_max_us"))
      .select(col("day"), col("events"), col("late_events"),
        col("late_share"),
        col("_q").getItem(0).as("skew_p50_us"),
        col("_q").getItem(1).as("skew_p95_us"),
        col("skew_max_us"))
  }

  /** Ordered funnel conversion over tool calls: how many conversations
    * invoke `steps(0)`, then `steps(1)` STRICTLY AFTER their first
    * `steps(0)`, then `steps(2)` strictly after that, … — the
    * product-analytics funnel (ordered sequential containment), a
    * capability class none of the co-occurrence/lead-lag/adoption
    * operators covers: those ask "do A and B both appear?", this asks
    * "does B happen after A?".
    *
    * Semantics: the funnel clock is the canonical event order
    * `(ts, turn_idx)` — packed into ONE exact decimal key
    * (`µs · 2³² + turn_idx + 2³¹`, the [[RefOps.lttbDownsample]]
    * DECIMAL(38,0)-here-HUGEINT-there doctrine) so ts ties break on
    * the stable turn order in both engines. Step k's time is the
    * minimum packed key among turns calling `steps(k)` strictly after
    * the conversation's step-(k−1) time; a conversation reaches step k
    * iff that min exists (the chain makes reached-counts
    * monotonically non-increasing). Turns with null ts / conv_id /
    * turn_idx / tool are not funnel events (the family null doctrine:
    * unplaceable, unorderable, unkeyable, or not a tool call).
    *
    * Output: one row per step — `(step, tool, convs,
    * conversion = convs / step-1 convs, avg_step_us, max_step_us)`.
    * `conversion` is the q110 fixed-shape ROUND-6 division (NULL when
    * the entry step converted nothing). `avg_step_us`/`max_step_us`
    * profile the transition latency from the previous step's time to
    * this step's time over converted conversations (NULL for step 1
    * and for steps nothing reached): the step µs is recovered from the
    * pack EXACTLY (subtract `pmod(pk, 2³²)`, divide by 2³² — the
    * quotient is an integer so the decimal division is exact;
    * `//` HUGEINT division in the oracle), deltas sum in decimal(38,0)
    * (10⁹ converted convs × 10¹³ µs overflows a long), and the avg is
    * ONE final fixed-shape double division. Deliberately avg/max, not
    * quantiles: the transition population is one value per converted
    * CONVERSATION — a single global group — so an exact percentile
    * buffer would be unbounded at 10¹²-turn scale where the per-group
    * buffers of [[RefOps.turnGapStats]]/[[responseLatency]] are
    * conversation-bounded; the latency DISTRIBUTION lives in
    * [[funnelLatency]] (exact, oracle-checkable twin) and
    * [[funnelLatencyApprox]] (GK sketch, bounded state — the scale
    * path).
    *
    * Plan: the step times are k conditional whole-partition window
    * MINs stacked on ONE conv_id exchange (each references the
    * previous step's column, so no self-join and no per-group array
    * state — the [[RefOps.cusumChangepoint]] shared-exchange idiom);
    * the per-conv reduction rides the same partitioning, and the
    * final census is one global k-column count. Per-task memory is
    * the window buffer over one conversation's TOOL turns (spillable),
    * not a collect_list aggregation buffer. Reference analogue: none —
    * the reference never sequences events; semantics are defined here
    * and pinned by the DuckDB iterated-CTE oracle (`q112`).
    */
  /** The funnel machinery shared by [[funnel]] and the latency
    * quantile forms: per-conversation step times `_p1.._pk` (packed
    * total-order keys) and transition deltas `_d2.._dk` (exact µs) —
    * one conv_id exchange, k stacked conditional window MINs (see
    * [[funnel]]'s plan note).
    */
  private def funnelPerConvDeltas(transcripts: DataFrame,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.size <= 8,
      s"steps must have 1 to 8 entries, got ${steps.size}")
    require(steps.forall(s => s != null && s.nonEmpty),
      "every funnel step must be a non-empty tool name")
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val base = transcripts
      .filter(col("ts").isNotNull && col("conv_id").isNotNull &&
        col("turn_idx").isNotNull && col("tool").isNotNull)
      .select(col("conv_id"), col("tool"),
        // exact total-order pack: µs·2³² + (turn_idx + 2³¹); decimal
        // keeps it overflow-proof for any epoch µs × int turn_idx
        (unix_micros(col("ts").cast("timestamp")).cast("decimal(38,0)") *
          lit(4294967296L) +
          (col("turn_idx").cast("long") + lit(2147483648L))).as("_pk"))
    val w = Window.partitionBy(col("conv_id"))
    val staged = steps.zipWithIndex.foldLeft(base) { case (df, (tool, i)) =>
      val hit =
        if (i == 0) col("tool") === tool
        else col("tool") === tool && col("_pk") > col(s"_p$i")
      df.withColumn(s"_p${i + 1}", min(when(hit, col("_pk"))).over(w))
    }
    val stepCols = steps.indices.map(i => col(s"_p${i + 1}"))
    // per-conv collapse rides the window's conv_id partitioning (the
    // step columns are conv-constant, so max == the value)
    val perConv = staged.groupBy(col("conv_id"))
      .agg(max(stepCols.head).as("_p1"),
        stepCols.tail.zipWithIndex.map { case (c, i) =>
          max(c).as(s"_p${i + 2}") }: _*)
    // exact µs of a packed step time: the quotient is an integer, so
    // after clearing the low 2³² the decimal division is exact
    def stepUs(p: Column): Column =
      ((p - pmod(p, lit(4294967296L))) / lit(4294967296L)).cast("long")
    steps.indices.tail.foldLeft(perConv) { (df, i) =>
      df.withColumn(s"_d${i + 1}",
        stepUs(col(s"_p${i + 1}")) - stepUs(col(s"_p$i")))
    }
  }

  /** Per-transition latency DISTRIBUTION of a funnel — the documented
    * quantile path [[funnel]]'s avg/max deliberately stops short of:
    * one row per transition (step ≥ 2), `(step, tool, convs, p50_us,
    * p95_us)` over the per-conversation step-to-step deltas. This
    * EXACT form uses `percentile` (interpolated, ≡ DuckDB
    * `quantile_cont` — the q18 cross-engine pin), whose aggregation
    * buffers the whole transition population: ONE global group, so at
    * 10¹²-turn scale the buffer is corpus-bounded — use
    * [[funnelLatencyApprox]] (Greenwald-Khanna-class bounded state)
    * there; this form is the oracle-checkable twin that pins the
    * sketch's error in specs (the q84/q85 exact/approx posture).
    */
  def funnelLatency(transcripts: DataFrame, steps: Seq[String]): DataFrame =
    // UNROUNDED: at µs magnitudes (10¹¹+) a 6-decimal round is lossy
    // in engines that round doubles via ×10⁶ (beyond 2⁵³ — DuckDB
    // does), while Spark rounds through BigDecimal exactly; emitting
    // the raw interpolated double keeps the oracle compare bit-exact
    // because BOTH engines then evaluate the identical IEEE expression
    // ONE array-fraction percentile per transition (the q18 doctrine):
    // two scalar calls would buffer and sort each transition's delta
    // population twice; both references below share the single
    // deduplicated aggregate, value-identical interpolation
    funnelLatencyBy(transcripts, steps, (d, _) => {
      val p = expr(s"percentile($d, array(0.5D, 0.95D))")
      Seq(element_at(p, 1), element_at(p, 2))
    })

  /** The scale sibling of [[funnelLatency]]: Spark's
    * `approx_percentile` (Greenwald-Khanna sketch) — O(accuracy)
    * state regardless of how many conversations converted, mergeable
    * map-side, rank error ≤ n/accuracy positions (bounded vs the
    * exact twin in SeriesOpsSpec). Returns ACTUAL observed deltas
    * (GK picks ranks, never interpolates), cast DOUBLE so the two
    * forms stay schema-compatible (the charLenQuantilesApprox
    * migration doctrine).
    */
  def funnelLatencyApprox(transcripts: DataFrame, steps: Seq[String],
      accuracy: Int = 10000): DataFrame = {
    require(accuracy >= 10, s"accuracy must be >= 10, got $accuracy")
    funnelLatencyBy(transcripts, steps, (d, _) => {
      // one GK sketch per transition, both ranks read from it (the
      // exact twin's array-fraction shape)
      val p = expr(s"approx_percentile($d, array(0.5D, 0.95D), $accuracy)")
      Seq(element_at(p, 1).cast("double"), element_at(p, 2).cast("double"))
    })
  }

  private def funnelLatencyBy(transcripts: DataFrame, steps: Seq[String],
      quantiles: (String, Int) => Seq[Column]): DataFrame = {
    require(steps.size >= 2,
      s"latency needs at least 2 funnel steps, got ${steps.size}")
    val withDeltas = funnelPerConvDeltas(transcripts, steps)
    val aggs = steps.indices.tail.flatMap { i =>
      val qs = quantiles(s"_d${i + 1}", i + 1)
      count(col(s"_p${i + 1}")).as(s"_c${i + 1}") +:
        qs.zipWithIndex.map { case (q, j) => q.as(s"_q${j}_${i + 1}") }
    }
    val agg = withDeltas.agg(aggs.head, aggs.tail: _*)
    val rows = steps.indices.tail.map { i =>
      struct(
        lit(i + 1).as("step"),
        lit(steps(i)).as("tool"),
        col(s"_c${i + 1}").as("convs"),
        col(s"_q0_${i + 1}").cast("double").as("p50_us"),
        col(s"_q1_${i + 1}").cast("double").as("p95_us"))
    }
    agg
      .select(explode(array(rows: _*)).as("_r"))
      .select(col("_r.step").as("step"), col("_r.tool").as("tool"),
        col("_r.convs").as("convs"), col("_r.p50_us").as("p50_us"),
        col("_r.p95_us").as("p95_us"))
  }

  def funnel(transcripts: DataFrame, steps: Seq[String]): DataFrame = {
    val withDeltas = funnelPerConvDeltas(transcripts, steps)
    val deltaAggs = steps.indices.tail.flatMap { i =>
      Seq(sum(col(s"_d${i + 1}").cast("decimal(38,0)")).as(s"_sd${i + 1}"),
        max(col(s"_d${i + 1}")).as(s"_md${i + 1}"))
    }
    val counts = withDeltas.agg(
      count(col("_p1")).as("_c1"),
      steps.indices.tail.map(i =>
        count(col(s"_p${i + 1}")).as(s"_c${i + 1}")) ++ deltaAggs: _*)
    val rows = steps.zipWithIndex.map { case (tool, i) =>
      val (avgUs, maxUs) =
        if (i == 0) (lit(null).cast("double"), lit(null).cast("long"))
        else (
          when(col(s"_c${i + 1}") > 0,
            round(col(s"_sd${i + 1}").cast("double") /
              col(s"_c${i + 1}").cast("double"), 6)),
          col(s"_md${i + 1}"))
      struct(
        lit(i + 1).as("step"),
        lit(tool).as("tool"),
        col(s"_c${i + 1}").as("convs"),
        when(col("_c1") > 0,
          round(col(s"_c${i + 1}").cast("double") /
            col("_c1").cast("double"), 6)).as("conversion"),
        avgUs.as("avg_step_us"),
        maxUs.as("max_step_us"))
    }
    counts
      .select(explode(array(rows: _*)).as("_r"))
      .select(col("_r.step").as("step"), col("_r.tool").as("tool"),
        col("_r.convs").as("convs"), col("_r.conversion").as("conversion"),
        col("_r.avg_step_us").as("avg_step_us"),
        col("_r.max_step_us").as("max_step_us"))
  }

  /** Daily session-coverage census: for each UTC day, how much of the
    * day is covered by AT LEAST one active session (interval union of
    * [[Sessionize]] sessions, day-sliced), and the day's peak session
    * concurrency (sweep line) — the utilization statistic behind
    * capacity planning that [[convConcurrency]]'s opened/closed/open
    * counts do not give (ten 1-minute sessions and one 10-hour session
    * both count "10 opened"; they cover 10 min vs 10 h).
    *
    * Algorithm, all integer µs arithmetic (the [[dayNumCol]] µs-floor
    * doctrine — exact, engine-mirrorable): sessions → [start,end] µs
    * intervals, SPLIT at day boundaries (`sequence(day(s), day(e))`
    * explode), each slice exploded inline into its ±1 sweep events,
    * then ONE day-partitioned sweep-line window ordered `(t, delta)`
    * computes everything at once:
    *   - running concurrency `c` = sum of deltas (the `-1` sorts
    *     first, so touching sessions ([a,t],[t,b]) do NOT count
    *     concurrent — a point has zero measure, matching the union's
    *     closed-interval algebra);
    *   - union length = Σ gaps `lead(t) − t` where `c ≥ 1` (time
    *     covered by at least one session — equivalent to the
    *     island/incremental-coverage forms, but free once the sweep
    *     exists);
    *   - `n_sessions` = count of `+1` events, `max_concurrent` =
    *     max running `c`.
    *
    * A session spanning k days contributes one slice to each
    * (n_sessions counts slices touching the day, by design).
    *
    * Plan: ONE conv exchange inside [[Sessionize.summarize]] —
    * computed ONCE (the first version fed coverage and concurrency
    * from separate window branches, recomputing the sessionize
    * subtree and paying two day exchanges + a join; the one-pass sweep
    * measured ~2× cheaper at 56.8M turns) — then session-granularity
    * rows only: one day exchange shared by the window AND the final
    * aggregation (same key, no re-shuffle). A pathologically hot day
    * bounds a partition at 2× that day's session count (sessions ≪
    * turns), the [[whaleConvsDaily]] skew posture.
    */
  def sessionCoverageDaily(transcripts: DataFrame,
      gapSeconds: Long = 1800L): DataFrame = {
    require(gapSeconds > 0 && gapSeconds <= capS,
      s"gapSeconds must be in (0, $capS], got $gapSeconds")
    val dayUs = 86400L * 1000000L
    val sess = Sessionize.summarize(transcripts, gapSeconds)
      .select(
        unix_micros(col("session_start").cast("timestamp")).as("_s"),
        unix_micros(col("session_end").cast("timestamp")).as("_e"))
    // µs-FLOOR day (the dayNumCol pmod idiom, NOT bare `div`: `div`
    // truncates toward zero, which for a pre-epoch session start would
    // disagree with both the floor the oracle's `//` computes and the
    // file's own day-bucketing doctrine)
    val events = sess
      .withColumn("_d", explode(sequence(
        expr(s"(_s - pmod(_s, $dayUs)) div $dayUs"),
        expr(s"(_e - pmod(_e, $dayUs)) div $dayUs"))))
      .select(col("_d"),
        greatest(col("_s"), col("_d") * dayUs).as("_ss"),
        least(col("_e"), (col("_d") + lit(1L)) * dayUs).as("_se"))
      .select(col("_d"), explode(array(
        struct(col("_ss").as("_t"), lit(1L).as("_delta")),
        struct(col("_se").as("_t"), lit(-1L).as("_delta")))).as("_ev"))
      .select(col("_d"), col("_ev._t").as("_t"), col("_ev._delta").as("_delta"))
    val wSweep = Window.partitionBy(col("_d")).orderBy(col("_t"), col("_delta"))
    events
      .withColumn("_c", sum(col("_delta"))
        .over(wSweep.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_inc", when(col("_c") >= 1L,
        coalesce(lead(col("_t"), 1).over(wSweep), col("_t")) - col("_t"))
        .otherwise(lit(0L)))
      .groupBy(col("_d"))
      .agg(count_if(col("_delta") === 1L).as("n_sessions"),
        sum(col("_inc")).as("covered_us"),
        max(col("_c")).as("max_concurrent"))
      .select(timestamp_micros(col("_d") * dayUs).as("day"),
        col("n_sessions"), col("covered_us"),
        round(col("covered_us").cast("double") / lit(dayUs.toDouble), 6)
          .as("coverage_frac"),
        col("max_concurrent"))
  }

  /** Rolling distinct-actives census (DAU/WAU family): per observed UTC
    * day, the day's distinct active conversations AND the distinct
    * count over the trailing `w` days — EXACT, not sketched, via the
    * presence-explode identity: a conversation is active in the window
    * ending at day `e` iff one of its presence days `d` satisfies
    * `e−(w−1) ≤ d ≤ e`, i.e. iff `e ∈ [d, d+w−1]` for some presence
    * day — so exploding each (conv, day) presence row into its `w`
    * window-ends and de-duplicating counts every conversation exactly
    * once per covering window. No windowed COUNT(DISTINCT) needed
    * (neither engine supports it distributively).
    *
    * Window-ends are restricted to OBSERVED days (a silent day has no
    * row — the [[dailyAutocorr]] observed-grid convention, chosen so
    * the output is keyed like [[dailyCardinality]]).
    *
    * Plan: presence census = ONE (conv, day) exchange partial-
    * aggregated map-side; the ×w explode is map-side; the (conv,
    * window-end) distinct is the second exchange (w× presence rows, 16
    * bytes each — at 10¹² turns presence ≈ users×days ≪ turns, so both
    * exchanges are orders below the rollup's); final per-day count
    * partial-aggregates. The sketch sibling
    * [[rollingActiveSketchDaily]] replaces the w× explode-distinct
    * with daily-artifact merges for the 100 TB fast path.
    */
  def rollingActiveDaily(transcripts: DataFrame, w: Int = 7): DataFrame = {
    require(w >= 1 && w <= 366, s"window must be in [1, 366] days, got $w")
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val dayUs = 86400L * 1000000L
    val presence = transcripts
      .filter(col("ts").isNotNull && col("conv_id").isNotNull)
      .select(col("conv_id"), dayNumCol.as("_d"))
      .distinct()
    val dau = presence.groupBy(col("_d")).agg(count(lit(1)).as("active_convs"))
    val windowEnds = presence
      .select(col("conv_id"),
        explode(sequence(col("_d"), col("_d") + lit((w - 1).toLong))).as("_e"))
      .distinct()
    val wau = windowEnds
      .join(dau.select(col("_d").as("_e")), Seq("_e"), "left_semi")
      .groupBy(col("_e"))
      .agg(count(lit(1)).as("rolling_active"))
    dau.join(wau, dau("_d") === wau("_e"))
      .select(timestamp_micros(col("_d") * lit(dayUs)).as("day"),
        col("active_convs"), col("rolling_active"))
  }

  /** HLL-sketch sibling of [[rollingActiveDaily]] — the mergeable-
    * artifact fast path (the [[graft.rollup.Rollup.mergeHistogram]]
    * doctrine, here with Apache DataSketches HLL via Spark's native
    * `hll_sketch_agg`/`hll_union_agg`): ONE sketch per day absorbs
    * duplicate presence map-side (no distinct exchange at all — the
    * raw (conv, day) stream feeds the sketch directly), the daily
    * binary artifacts union over each trailing-`w` window, and the
    * rolling estimate reads off the merged sketch. At 100 TB the daily
    * sketches persist beside the rollup tiers and a w-day re-estimate
    * merges w fixed-size artifacts instead of re-touching presence at
    * all; estimates are deterministic for a given input (bounded-error
    * vs the exact sibling in SeriesOpsSpec, rows-only at the driver by
    * design — DuckDB cannot reproduce DataSketches HLL).
    */
  def rollingActiveSketchDaily(transcripts: DataFrame, w: Int = 7,
      lgK: Int = 12): DataFrame = {
    require(w >= 1 && w <= 366, s"window must be in [1, 366] days, got $w")
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21], got $lgK")
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val dayUs = 86400L * 1000000L
    val daily = transcripts
      .filter(col("ts").isNotNull && col("conv_id").isNotNull)
      .select(col("conv_id"), dayNumCol.as("_d"))
      .groupBy(col("_d"))
      .agg(hll_sketch_agg(col("conv_id"), lit(lgK)).as("_sk"))
    daily
      .select(explode(sequence(col("_d"), col("_d") + lit((w - 1).toLong)))
        .as("_e"), col("_sk"))
      .join(daily.select(col("_d").as("_e")), Seq("_e"), "left_semi")
      .groupBy(col("_e"))
      .agg(hll_union_agg(col("_sk")).as("_u"))
      .select(timestamp_micros(col("_e") * lit(dayUs)).as("day"),
        hll_sketch_estimate(col("_u")).as("rolling_active_est"))
  }

  /** Interpolated median of a (possibly unsorted) numeric array —
    * sorted-array element arithmetic, NOT an engine `median()` call,
    * so the Spark and DuckDB definitions cannot drift: odd n takes the
    * middle element, even n averages the two middles. Integer division
    * via double-divide-then-int-cast (truncation == floor for the
    * positive sizes here). Shared by [[hampelDaily]]'s median and MAD.
    */
  private def medianOfArray(arr: Column): Column = {
    val s = sort_array(arr)
    val n = size(s)
    val half = (n / lit(2)).cast("int")
    when(pmod(n, lit(2)) === 1,
      element_at(s, ((n + lit(1)) / lit(2)).cast("int")).cast("double"))
      .otherwise((element_at(s, half).cast("double") +
        element_at(s, half + lit(1)).cast("double")) / 2.0)
  }

  /** Hampel robust-outlier filter over the daily turn series: per UTC
    * day, the trailing-`w`-day rolling MEDIAN and rolling MAD (median
    * absolute deviation), flagging days where
    * `|count − med| > k·MAD` — the standard robust alternative to the
    * z-score monitor ([[graft.operators.RefOps.rollingZscore]] family):
    * one whale day cannot drag the baseline the way it drags a rolling
    * mean/stddev, so level shifts flag crisply instead of poisoning
    * the next `w` days' threshold.
    *
    * Both statistics are EXACT order statistics computed from the
    * window-collected array with [[medianOfArray]]'s element
    * arithmetic — all values are halves/quarters of integers, exact in
    * binary, so the oracle (same list arithmetic in DuckDB) matches
    * bit-for-bit; an engine-native `median()` on either side could
    * disagree in definition, not just ulps.
    *
    * Window semantics: trailing ROWS frame over observed days (a
    * missing calendar day shrinks lookback, [[dailyAutocorr]]
    * convention); the first days flag against their short window
    * (n_window reports the actual size). MAD = 0 (constant window)
    * flags any deviation, and a day equal to its median never flags.
    *
    * Plan: daily census partial-aggregates map-side into ONE exchange;
    * the rolling window is a single-partition sort over day-count rows
    * (thousands of days — metadata scale, the [[dailyAutocorr]]
    * doctrine), with the array buffer bounded by `w`.
    */
  def hampelDaily(transcripts: DataFrame, w: Int = 7,
      k: Double = 3.0): DataFrame = {
    require(w >= 2 && w <= 3660, s"window must be in [2, 3660] days, got $w")
    require(k > 0, s"k must be positive, got $k")
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val daily = transcripts
      .filter(col("ts").isNotNull)
      .select(dayStartCol.as("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("turn_count"))
    val win = Window.orderBy(col("day")).rowsBetween(-(w - 1), 0)
    daily
      .withColumn("_a", collect_list(col("turn_count")).over(win))
      .withColumn("med", medianOfArray(col("_a")))
      .withColumn("mad", medianOfArray(
        transform(col("_a"), x => abs(x.cast("double") - col("med")))))
      .select(col("day"), col("turn_count"),
        size(col("_a")).as("n_window"),
        round(col("med"), 6).as("med"),
        round(col("mad"), 6).as("mad"),
        (abs(col("turn_count").cast("double") - col("med")) >
          lit(k) * col("mad")).as("is_outlier"))
  }
}
