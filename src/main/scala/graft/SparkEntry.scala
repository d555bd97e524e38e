package graft

import graft.ingest.Transcripts
import graft.model.Tier
import graft.rollup.Rollup
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every oracle-checked query runs over the driver's parquet tables; the
  * canonical `transcripts` input (BASELINE.json `input_hint`) is derived
  * deterministically from `events.parquet` in BOTH engines (Spark:
  * [[graft.ingest.Transcripts.fromEvents]]; DuckDB:
  * [[graft.ingest.Transcripts.oracleCte]]), so
  * rolled-up points are verified value-for-value at every tier.
  */
object SparkEntry {

  private def transcripts(s: SparkSession, dir: String): DataFrame =
    Transcripts.fromEvents(s, dir)

  /** Warehouse for q141's stored-tier stitch: the full
    * [[graft.jobs.RollupJob]] pipeline materializes rollup_1m/1h/1d
    * ONCE per input dir per JVM (a deployment builds tiers once and
    * serves many range queries from them — rebuilding per bench rep
    * would measure the write path q140 already covers, not the read
    * path q141 exists to exercise). Scratch lives under the JVM
    * tmpdir and is deleted on exit.
    */
  // success-only memo with a per-dir build lock: the multi-minute
  // RollupJob build runs under its own lock (a concurrent query
  // hashing to the same CHM bin no longer blocks for the full build),
  // and a FAILED build caches nothing — a retry re-runs the caller's
  // build thunk with the caller's CURRENT session, instead of
  // replaying a captured (possibly stopped) one forever
  private val stitchWarehouses =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val warehouseLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def memoWarehouse(
      memo: java.util.concurrent.ConcurrentHashMap[String, String],
      dir: String)(build: => String): String = {
    val hit = memo.get(dir)
    if (hit != null) hit
    else warehouseLocks.computeIfAbsent(s"${System.identityHashCode(memo)}:$dir",
        _ => new Object).synchronized {
      val again = memo.get(dir)
      if (again != null) again
      else {
        val wh = build
        memo.put(dir, wh)
        wh
      }
    }
  }
  private def stitchWarehouse(s: SparkSession, dir: String): String =
    memoWarehouse(stitchWarehouses, dir) {
      val wh = tempWarehouse("graft-stitch-wh")
      new graft.jobs.RollupJob(wh).run(s, transcripts(s, dir), "q141-build")
      wh
    }

  /** Warehouse for q144's SERVING-mode stitch: built from transcripts
    * TRUNCATED at 2024-01-15, so days before Jan 14 are CLOSED
    * (COMPLETED checkpoints) and everything after is absent — the
    * lagging-warehouse shape the serving mode exists for. Same
    * build-once memo + cleanup as [[stitchWarehouse]].
    */
  private val servingWarehouses =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def servingWarehouse(s: SparkSession, dir: String): String =
    memoWarehouse(servingWarehouses, dir) {
      val wh = tempWarehouse("graft-serving-wh")
      val truncated = transcripts(s, dir).filter(
        org.apache.spark.sql.functions.col("ts") <
          org.apache.spark.sql.functions.lit("2024-01-15 00:00:00")
            .cast(transcripts(s, dir).schema("ts").dataType))
      new graft.jobs.RollupJob(wh).run(s, truncated, "q144-build")
      wh
    }

  /** A fresh temp warehouse dir, deleted at JVM exit — the hook is
    * registered BEFORE the caller's build, so a failed build (the memo
    * caches nothing and a retry makes a new dir) leaks no dir either.
    */
  private def tempWarehouse(prefix: String): String = {
    val wh = java.nio.file.Files.createTempDirectory(prefix).toString
    Runtime.getRuntime.addShutdownHook(cleanupHook(wh))
    wh
  }

  private def cleanupHook(wh: String): Thread =
    new Thread(() => {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val root = Paths.get(wh)
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        val all = try walk.iterator().asScala.toSeq finally walk.close()
        all.sortBy(-_.getNameCount).foreach(p =>
          try Files.deleteIfExists(p) catch { case _: Exception => () })
      }
    })

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * 1-minute per-conversation continuous aggregates over transcripts.
    */
  def entry(spark: SparkSession): DataFrame =
    Rollup.fromRaw(transcripts(spark, "/root/testdata/sf0.001"), Tier.M1)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // input derivation: per-turn text equality under stable (conv_id, turn_idx)
    "q01_transcripts" -> ((s, dir) => transcripts(s, dir)),
    // tier cascade raw→1m→1h→1d; each tier reads ONLY the previous tier,
    // while the oracle recomputes every tier directly from raw turns —
    // so a passing check proves cascade == direct at each tier.
    "q02_rollup_1m" -> ((s, dir) => Rollup.fromRaw(transcripts(s, dir), Tier.M1)),
    "q03_rollup_1h" -> ((s, dir) =>
      Rollup.cascade(Rollup.fromRaw(transcripts(s, dir), Tier.M1), Tier.H1)),
    "q04_rollup_1d" -> ((s, dir) =>
      Rollup.cascade(
        Rollup.cascade(Rollup.fromRaw(transcripts(s, dir), Tier.M1), Tier.H1),
        Tier.D1)),
    // skew path: salted two-phase agg must equal the plain 1m rollup
    "q05_rollup_1m_salted" -> ((s, dir) =>
      Rollup.fromRawSalted(transcripts(s, dir), Tier.M1, salts = 8)),
    // tool-call frequency companion table + its cascade
    "q06_tool_freq_1h" -> ((s, dir) => Rollup.toolFreq(transcripts(s, dir), Tier.H1)),
    "q07_tool_freq_1d" -> ((s, dir) =>
      Rollup.toolFreqCascade(Rollup.toolFreq(transcripts(s, dir), Tier.H1), Tier.D1)),
    // Gorilla XOR + delta-of-delta blocks: encode per (conv, 1h window),
    // decode + explode back to points; oracle is the raw series, so a
    // pass proves bit-exact codec roundtrip through the shuffle path.
    "q08_blocks_roundtrip" -> ((s, dir) =>
      graft.rollup.BlockRollup.decode(
        graft.rollup.BlockRollup.encode(transcripts(s, dir), Tier.H1))),
    // linear-interpolation gap-fill on the 1h char_len_avg series
    "q09_gapfill_1h" -> ((s, dir) =>
      graft.gapfill.GapFill.linear(
        Rollup.fromRaw(transcripts(s, dir), Tier.H1), Tier.H1, "char_len_avg")),
    // reference-behavior operators (SURVEY.md §2.1)
    "q10_typed_cast" -> ((s, dir) =>
      graft.operators.RefOps.typedCast(s.read.parquet(s"$dir/events.parquet"))),
    "q11_time_normalize" -> ((s, dir) =>
      graft.operators.RefOps.timeNormalize(s.read.parquet(s"$dir/events.parquet"))),
    "q12_row_id" -> ((s, dir) => graft.operators.RefOps.rowId(transcripts(s, dir))),
    "q13_replay_semijoin" -> ((s, dir) => {
      val t = transcripts(s, dir)
      val failed = t.filter(org.apache.spark.sql.functions.expr("turn_idx % 17 = 3"))
        .select("conv_id", "turn_idx")
      graft.operators.RefOps.replaySemiJoin(t, failed)
    }),
    "q14_device_fanout" -> ((s, dir) =>
      graft.operators.RefOps.deviceFanout(transcripts(s, dir))),
    "q15_latest_per_key" -> ((s, dir) =>
      graft.operators.RefOps.latestPerKey(s.read.parquet(s"$dir/events.parquet"))),
    // top-K per key (heavy-hitters form of q15's top-1)
    "q37_topk_per_key" -> ((s, dir) =>
      graft.operators.RefOps.topKPerKey(s.read.parquet(s"$dir/events.parquet"), k = 3)),
    "q16_running_counters" -> ((s, dir) =>
      graft.operators.RefOps.runningCounters(transcripts(s, dir))),
    // as-of join: each turn enriched with its conversation's latest
    // 1m rollup window started at or before the turn's ts — the
    // union-sort form (one shuffle, no range join); oracle is DuckDB's
    // native ASOF JOIN, so tie/latest semantics are pinned cross-engine
    "q17_asof_enrich" -> ((s, dir) => {
      val t = transcripts(s, dir)
      val r = Rollup.fromRaw(t, Tier.M1)
        .select(
          org.apache.spark.sql.functions.col("conv_id"),
          org.apache.spark.sql.functions.col("window_start"),
          org.apache.spark.sql.functions.col("turn_count"),
          org.apache.spark.sql.functions.col("char_len_sum"))
      graft.operators.AsofJoin.asofJoin(
        t.select("conv_id", "turn_idx", "ts"), r, "conv_id", "ts", "window_start")
    }),
    // exact interpolated per-window quantiles (percentile ≡ DuckDB
    // quantile_cont, type-7)
    "q18_rollup_quantiles" -> ((s, dir) =>
      Rollup.charLenQuantiles(transcripts(s, dir), Tier.H1)),
    // gap-based sessionization (session windows, batch form): sessions
    // split where the inter-turn gap exceeds 30 minutes
    "q19_sessionize" -> ((s, dir) =>
      graft.operators.Sessionize.summarize(transcripts(s, dir), gapSeconds = 1800L)),
    // interval (range) join via grid cells: each turn equi-joined to
    // the session interval containing it — no quadratic range join;
    // oracle runs the plain inequality join
    "q36_interval_join" -> ((s, dir) => {
      val t = transcripts(s, dir).select("conv_id", "turn_idx", "ts")
      val sess = graft.operators.Sessionize.summarize(transcripts(s, dir), 1800L)
      graft.operators.RangeJoin.intervalJoin(
        t, sess, "conv_id", "ts", "session_start", "session_end")
    }),
    // counter rate with reset recovery — the timeseries derivative
    // (PromQL rate() analogue) over the events value column
    "q41_counter_rate" -> ((s, dir) =>
      graft.operators.RefOps.counterRate(s.read.parquet(s"$dir/events.parquet"))),
    // min-max downsampling: per (key, hour) keep the extreme SAMPLES
    "q42_downsample_minmax" -> ((s, dir) =>
      graft.operators.RefOps.downsampleMinMax(
        s.read.parquet(s"$dir/events.parquet"))),
    // FORWARD asof with a staleness bound (pandas merge_asof direction
    // + tolerance): each turn matched to the EARLIEST 1m window at or
    // after it, but only within 5 minutes — same one-exchange plan,
    // mirrored frame; oracle is the naive inequality join
    "q43_asof_forward_tolerance" -> ((s, dir) => {
      val t = transcripts(s, dir)
      val r = Rollup.fromRaw(t, Tier.M1)
        .select(
          org.apache.spark.sql.functions.col("conv_id"),
          org.apache.spark.sql.functions.col("window_start"),
          org.apache.spark.sql.functions.col("turn_count"))
      graft.operators.AsofJoin.asofJoin(
        t.select("conv_id", "turn_idx", "ts"), r, "conv_id", "ts", "window_start",
        direction = graft.operators.AsofJoin.Forward,
        toleranceSeconds = Some(300L))
    }),
    // LOCF gap-fill: the step-function sibling of q09's linear fill
    "q44_gapfill_locf" -> ((s, dir) =>
      graft.gapfill.GapFill.locf(
        Rollup.fromRaw(transcripts(s, dir), Tier.H1), Tier.H1, "char_len_avg")),
    // sliding (hopping) window rollup — tunables pinned explicitly so
    // the coupling with the oracle's 1800000000 µs literals is visible
    "q45_rollup_sliding" -> ((s, dir) =>
      Rollup.sliding(transcripts(s, dir),
        windowExpr = "1 hour", slideExpr = "30 minutes")),
    // time-weighted average turn length (irregular-sampling average)
    "q46_time_weighted_avg" -> ((s, dir) =>
      graft.operators.RefOps.timeWeightedAvg(transcripts(s, dir))),
    // rolling z-score outliers — same explicit pinning (oracle repeats
    // 10 PRECEDING / n >= 8 / > 2.0)
    "q47_zscore_anomaly" -> ((s, dir) =>
      graft.operators.RefOps.rollingZscore(transcripts(s, dir),
        lookback = 10, minPoints = 8, threshold = 2.0)),
    // Pearson r between turn position and turn length per conversation
    "q48_drift_corr" -> ((s, dir) =>
      graft.operators.RefOps.lengthDriftCorr(transcripts(s, dir))),
    // per-hour turn-length distribution (bucket width pinned = oracle's 50)
    "q49_len_histogram" -> ((s, dir) =>
      Rollup.charLenHistogram(transcripts(s, dir), Tier.H1, bucketWidth = 50)),
    // exponential smoothing: ordered-array fold, alpha pinned = oracle's 0.3
    "q50_ewma" -> ((s, dir) =>
      graft.operators.RefOps.ewma(transcripts(s, dir), alpha = 0.3)),
    // two-sided CUSUM changepoint monitor via the max-plus closed form;
    // slack/threshold pinned = the oracle's n*1 / n*3 literals
    "q51_cusum_changepoint" -> ((s, dir) =>
      graft.operators.RefOps.cusumChangepoint(transcripts(s, dir),
        slack = 1L, threshold = 3L)),
    // lag-1 serial correlation of turn lengths (exact integer moments)
    "q52_lag_autocorr" -> ((s, dir) =>
      graft.operators.RefOps.lagAutocorr(transcripts(s, dir), lagK = 1)),
    // MAD modified z-score outliers; cutoff pinned = the oracle's 3.5
    "q53_mad_outliers" -> ((s, dir) =>
      graft.operators.RefOps.madOutliers(transcripts(s, dir), threshold = 3.5)),
    // inter-arrival gap distribution (exact p50/p95/max in µs)
    "q54_turn_gap_stats" -> ((s, dir) =>
      graft.operators.RefOps.turnGapStats(transcripts(s, dir))),
    // Spearman rank drift: Pearson over doubled tie-averaged ranks
    "q55_spearman_drift" -> ((s, dir) =>
      graft.operators.RefOps.spearmanDrift(transcripts(s, dir))),
    // Holt level+trend smoothing; alpha/beta pinned = oracle's 0.3/0.2
    "q56_holt_smooth" -> ((s, dir) =>
      graft.operators.RefOps.holtSmooth(transcripts(s, dir),
        alpha = 0.3, beta = 0.2)),
    // gaps-and-islands run-length encoding of consecutive same-role turns
    "q57_role_runs" -> ((s, dir) =>
      graft.operators.RefOps.roleRuns(transcripts(s, dir))),
    // time-RANGE-frame burst detection; the synth corpus has hour-scale
    // gaps (median ~7.3 h), so the query pins a 7-day window / 20 turns
    // to exercise both flag values — the oracle repeats 604800000000 / 20
    "q58_burst_flags" -> ((s, dir) =>
      graft.operators.RefOps.burstFlags(transcripts(s, dir),
        windowSeconds = 604800L, minTurns = 20L)),
    // Simpson (not Shannon: ln() is 1-ulp engine-divergent, see scaladoc)
    "q59_tool_diversity" -> ((s, dir) =>
      graft.operators.RefOps.toolDiversity(transcripts(s, dir))),
    // corpus-level role→successor Markov counts + row-normalized shares
    "q60_role_transitions" -> ((s, dir) =>
      graft.operators.RefOps.roleTransitions(transcripts(s, dir))),
    // running COUNT(DISTINCT tool) via first-occurrence-flag cumsum
    "q61_tool_vocab_growth" -> ((s, dir) =>
      graft.operators.RefOps.toolVocabGrowth(transcripts(s, dir))),
    // (dow, hour) calendar profile; dow pinned to Spark's 1=Sunday
    "q62_hourly_profile" -> ((s, dir) =>
      graft.operators.RefOps.hourlyProfile(transcripts(s, dir))),
    // OHLC candles over turn length; hour windows, all-integer output
    "q63_ohlc_candles" -> ((s, dir) =>
      graft.operators.SeriesOps.ohlcCandles(transcripts(s, dir),
        windowSeconds = 3600L)),
    // day-over-day turn-count deltas vs the previous OBSERVED day
    "q64_daily_deltas" -> ((s, dir) =>
      graft.operators.SeriesOps.dailyDeltas(transcripts(s, dir))),
    // missing-data gaps > 30 min; the row-level sibling of q19
    "q65_gap_report" -> ((s, dir) =>
      graft.operators.SeriesOps.gapReport(transcripts(s, dir),
        minGapSeconds = 1800L)),
    // PAA + SAX shape signature; 8 segments, 4-letter alphabet pinned
    "q66_paa_sax" -> ((s, dir) =>
      graft.operators.SeriesOps.paaSax(transcripts(s, dir), segments = 8)),
    // Theil-Sen robust slope over the trailing 32 turns; lower median
    "q67_theilsen_slope" -> ((s, dir) =>
      graft.operators.SeriesOps.theilSenSlope(transcripts(s, dir), tailK = 32)),
    // corpus hourly counts vs their (dow, hod) calendar-cell baseline
    "q68_seasonal_residual" -> ((s, dir) =>
      graft.operators.SeriesOps.seasonalResidual(transcripts(s, dir))),
    // unordered tool pairs by shared-conversation reach + Jaccard
    "q69_tool_cooccurrence" -> ((s, dir) =>
      graft.operators.SeriesOps.toolCooccurrence(transcripts(s, dir))),
    // top-3 tools per UTC day with deterministic name-ascending ties
    "q70_heavy_hitters_daily" -> ((s, dir) =>
      graft.operators.SeriesOps.heavyHittersDaily(transcripts(s, dir), k = 3)),
    // user->assistant answer-time profile (n/p50/p95/max µs per conv)
    "q71_response_latency" -> ((s, dir) =>
      graft.operators.SeriesOps.responseLatency(transcripts(s, dir))),
    // first-active-day cohorts × observed age-day activity grid
    "q72_cohort_retention" -> ((s, dir) =>
      graft.operators.SeriesOps.cohortRetention(transcripts(s, dir))),
    // SAX shape-signature census with a deterministic exemplar
    "q73_sax_motifs" -> ((s, dir) =>
      graft.operators.SeriesOps.saxMotifs(transcripts(s, dir), segments = 8)),
    // whole-life conversation summary (span, active days, intensity)
    "q74_conv_lifecycle" -> ((s, dir) =>
      graft.operators.SeriesOps.convLifecycle(transcripts(s, dir))),
    // vocabulary head: top-50 whitespace tokens with share of mass
    "q75_term_topk" -> ((s, dir) =>
      graft.operators.SeriesOps.termTopK(transcripts(s, dir), k = 50)),
    // per-conv distinctive terms by exact-rational frequency lift
    "q76_term_lift" -> ((s, dir) =>
      graft.operators.SeriesOps.termLift(transcripts(s, dir), k = 5, minTf = 2L)),
    // Mann-Kendall monotonic-trend test over the turn-length tail
    "q77_mann_kendall" -> ((s, dir) =>
      graft.operators.SeriesOps.mannKendall(transcripts(s, dir), tailK = 32)),
    // Hurst-style rescaled-range statistic, exact-integer reduced form
    "q78_rescaled_range" -> ((s, dir) =>
      graft.operators.SeriesOps.rescaledRange(transcripts(s, dir))),
    // per-day activity percentile of each conversation's turn count
    "q79_day_activity_rank" -> ((s, dir) =>
      graft.operators.SeriesOps.dayActivityRank(transcripts(s, dir))),
    // Pearson co-movement of tool pairs over zero-filled daily series
    "q80_tool_pair_corr" -> ((s, dir) =>
      graft.operators.SeriesOps.toolPairCorrelation(transcripts(s, dir))),
    // CART-style optimal binary split of the turn-length series
    "q81_binary_split" -> ((s, dir) =>
      graft.operators.SeriesOps.binarySplit(transcripts(s, dir))),
    // per-(conv, tool) call rhythm: count, endpoints, gap quantiles
    "q82_tool_cadence" -> ((s, dir) =>
      graft.operators.SeriesOps.toolCadence(transcripts(s, dir))),
    // Heaps-law corpus vocabulary growth by day
    "q83_term_vocab_growth" -> ((s, dir) =>
      graft.operators.SeriesOps.termVocabGrowth(transcripts(s, dir))),
    // exact per-day cardinality (turns, distinct convs, distinct tools)
    "q84_daily_cardinality" -> ((s, dir) =>
      graft.operators.SeriesOps.dailyCardinality(transcripts(s, dir))),
    // HLL++ sketch sibling — mergeable map-side state, no dedup shuffle;
    // rows-only by design (estimate), error bound spec-pinned vs q84
    "q85_daily_cardinality_approx" -> ((s, dir) =>
      graft.operators.SeriesOps.dailyCardinalityApprox(transcripts(s, dir))),
    // ACF of the zero-filled corpus daily-turn series, lags 1..14
    "q86_daily_autocorr" -> ((s, dir) =>
      graft.operators.SeriesOps.dailyAutocorr(transcripts(s, dir), maxLag = 14)),
    // directional lead-lag correlation between tool daily series
    "q87_tool_lead_lag" -> ((s, dir) =>
      graft.operators.SeriesOps.toolLeadLag(transcripts(s, dir), maxLag = 7)),
    // per-day Gini coefficient of turns-per-conversation concentration
    "q88_daily_gini" -> ((s, dir) =>
      graft.operators.SeriesOps.dailyGini(transcripts(s, dir))),
    // conversation survival curve over turn-count histogram
    "q89_survival_curve" -> ((s, dir) =>
      graft.operators.SeriesOps.survivalCurve(transcripts(s, dir))),
    // gaps-and-islands consecutive-active-day streaks per conversation
    "q90_active_streaks" -> ((s, dir) =>
      graft.operators.SeriesOps.activeStreaks(transcripts(s, dir))),
    // day-grain growth accounting: new / returning / cumulative convs
    "q91_new_vs_returning" -> ((s, dir) =>
      graft.operators.SeriesOps.newVsReturning(transcripts(s, dir))),
    // per-tool adoption curve: first-time users per day + running total
    "q92_tool_adoption" -> ((s, dir) =>
      graft.operators.SeriesOps.toolAdoption(transcripts(s, dir))),
    // daily exact-duplication monitor over md5 text identity
    "q93_daily_dup_rate" -> ((s, dir) =>
      graft.operators.SeriesOps.dailyDupRate(transcripts(s, dir))),
    // Fano-factor burstiness of each conversation's daily series
    "q94_conv_burstiness" -> ((s, dir) =>
      graft.operators.SeriesOps.convBurstiness(transcripts(s, dir))),
    // character half-life: how front-loaded the conversation's content is
    "q95_char_half_life" -> ((s, dir) =>
      graft.operators.SeriesOps.charHalfLife(transcripts(s, dir))),
    // top-k whale conversations per day with share of the day's turns
    "q96_whale_convs" -> ((s, dir) =>
      graft.operators.SeriesOps.whaleConvsDaily(transcripts(s, dir), k = 3)),
    // sweep-line: opened / closed / open conversations per calendar day
    "q97_conv_concurrency" -> ((s, dir) =>
      graft.operators.SeriesOps.convConcurrency(transcripts(s, dir))),
    // day-over-day toolset kept/added/dropped + Jaccard overlap
    "q98_toolset_churn" -> ((s, dir) =>
      graft.operators.SeriesOps.toolsetChurn(transcripts(s, dir))),
    // record-breaking day census: running high, record count, drought
    "q99_record_days" -> ((s, dir) =>
      graft.operators.SeriesOps.recordDays(transcripts(s, dir))),
    // Lorenz curve: per-day equal-population deciles + cumulative share
    "q100_lorenz_deciles" -> ((s, dir) =>
      graft.operators.SeriesOps.lorenzDeciles(transcripts(s, dir))),
    // day-over-day distribution drift: bucketed KS + total variation
    "q101_dist_drift" -> ((s, dir) =>
      graft.operators.SeriesOps.distDrift(transcripts(s, dir))),
    // daily top-term turnover: kept/added/dropped + Jaccard at k=50
    "q102_term_churn" -> ((s, dir) =>
      graft.operators.SeriesOps.termChurnDaily(transcripts(s, dir), k = 50)),
    // daily lexical diversity: type-token ratio + hapax share
    "q103_type_token_ratio" -> ((s, dir) =>
      graft.operators.SeriesOps.typeTokenRatio(transcripts(s, dir))),
    // daily digit-bucket length histogram (the drift monitor's census)
    "q104_daily_len_histogram" -> ((s, dir) =>
      graft.operators.SeriesOps.lengthHistogramDaily(transcripts(s, dir))),
    // daily shingle novelty: first-seen 3-gram share (corpus freshness)
    "q105_shingle_novelty" -> ((s, dir) =>
      graft.operators.SeriesOps.shingleNoveltyDaily(transcripts(s, dir))),
    // LTTB downsampling (fixed-anchor variant) over the events stream:
    // per (user, hour) keep the max-triangle-area sample; exact
    // scaled-integer area algebra — DECIMAL(38,0) here, HUGEINT there
    "q106_lttb_downsample" -> ((s, dir) =>
      graft.operators.RefOps.lttbDownsample(
        s.read.parquet(s"$dir/events.parquet"), windowExpr = "1 hour")),
    // edit distance between the top-8 tool-call SEQUENCES (rank-coded
    // char alphabet makes both engines' levenshtein token-level)
    "q107_tool_seq_edit" -> ((s, dir) =>
      graft.operators.RefOps.toolSeqEdit(transcripts(s, dir), k = 8)),
    // DTW distance between the top-8 daily-turn-count series; the
    // nested ordered fold mirrors the oracle's seeded list_reduce
    "q108_dtw_pairs" -> ((s, dir) =>
      graft.operators.SeriesOps.dtwPairs(transcripts(s, dir),
        k = 8, maxDays = 64)),
    // strict local maxima over each conversation's daily series
    // (±3 OBSERVED days) with prominence over the tallest neighbor
    "q109_peak_days" -> ((s, dir) =>
      graft.operators.SeriesOps.peakDays(transcripts(s, dir), w = 3)),
    // out-of-order skew census: the watermark-sizing statistic (late
    // share + skew quantiles per day against the conv high-water mark).
    // The driver's synthetic data is ts-ordered by construction, so the
    // oracle pins the all-on-time path (zeros + NULL quantiles); the
    // late path is pinned by SeriesOpsSpec's golden + brute-sweep tests
    "q110_ooo_skew" -> ((s, dir) =>
      graft.operators.SeriesOps.outOfOrderSkew(transcripts(s, dir))),
    // the LATE-path oracle check the ordered driver data cannot give
    // q110: negating turn_idx
    // reverses arrival order, so every non-newest event trails its
    // conversation's high-water mark — late shares and skew quantiles
    // become dense and hash-checkable
    "q111_ooo_skew_reversed" -> ((s, dir) =>
      graft.operators.SeriesOps.outOfOrderSkew(
        transcripts(s, dir).withColumn("turn_idx",
          -org.apache.spark.sql.functions.col("turn_idx")))),
    // ordered funnel over conversation OPENINGS (turn_idx < 8 keeps
    // occurrences scarce so the ordered counts 120/76/25 differ from
    // plain co-occurrence 120/103/77 at sf0.01 — the check would catch
    // an unordered implementation): convs reaching signup, then
    // purchase strictly after it, then error after that — step times
    // are k conditional window mins over ONE exact packed
    // (µs, turn_idx) key on one conv exchange; the oracle is the
    // k-iterated-CTE join form, so the two engines derive the
    // sequential containment independently
    "q112_funnel" -> ((s, dir) =>
      graft.operators.SeriesOps.funnel(
        transcripts(s, dir)
          .filter(org.apache.spark.sql.functions.col("turn_idx") < 8),
        Seq("signup", "purchase", "error"))),
    // per-transition latency distribution of the q112 funnel: exact
    // percentile twin (oracle quantile_cont) ...
    "q142_funnel_latency" -> ((s, dir) =>
      graft.operators.SeriesOps.funnelLatency(
        transcripts(s, dir)
          .filter(org.apache.spark.sql.functions.col("turn_idx") < 8),
        Seq("signup", "purchase", "error"))),
    // ... and the GK-sketch scale sibling (rows-only by design: DuckDB
    // cannot reproduce Spark's sketch; rank error bounded vs q142 in
    // SeriesOpsSpec — the q84/q85 exact/approx posture)
    "q143_funnel_latency_gk" -> ((s, dir) =>
      graft.operators.SeriesOps.funnelLatencyApprox(
        transcripts(s, dir)
          .filter(org.apache.spark.sql.functions.col("turn_idx") < 8),
        Seq("signup", "purchase", "error"))),
    // order-sensitive sibling of q59: Simpson over consecutive
    // tool-call PAIRS per conversation + dominant transition
    "q145_tool_transition_diversity" -> ((s, dir) =>
      graft.operators.RefOps.toolTransitionDiversity(transcripts(s, dir))),
    // REAL-TIME serving stitch: the warehouse is built from input
    // TRUNCATED at 2024-01-15 (days < Jan 14 closed, rest absent);
    // the query range runs to Jan 27, so the answer stitches stored
    // tiers up to the serving horizon and raw for the live tail —
    // and must STILL equal direct raw aggregation (q140's oracle)
    "q144_tier_stitch_serving" -> ((s, dir) => {
      val wh = servingWarehouse(s, dir)
      graft.rollup.Rollup.stitchRangeServing(s,
        new graft.table.SnapshotTable(s"$wh/rollup_1m"),
        new graft.table.SnapshotTable(s"$wh/rollup_1h"),
        new graft.table.SnapshotTable(s"$wh/rollup_1d"),
        new graft.state.StateStore(s"$wh/_state"),
        transcripts(s, dir),
        "2024-01-03 07:41:23", "2024-01-27 18:22:05")
    }),
    // training-data curation family (Curation.scala): deterministic
    // md5-permutation sampling — the selected ROWS are hash-checked,
    // so the oracle pins the whole permutation, not just counts
    "q113_sample_per_conv" -> ((s, dir) =>
      graft.operators.Curation.samplePerConv(transcripts(s, dir), k = 5)),
    // reproducible conv-level train/val/test split census
    "q114_split_census" -> ((s, dir) =>
      graft.operators.Curation.stratifiedSplit(transcripts(s, dir))),
    // per-conversation ordered-content digest — the north rule's
    // per-turn text-equality invariant as a checkable artifact: the
    // oracle recomputes every conversation's md5 independently, so a
    // pass proves per-turn text equality under stable turn ordering
    // for the WHOLE corpus in one hash compare
    "q115_conv_fingerprint" -> ((s, dir) =>
      graft.operators.Curation.convFingerprint(transcripts(s, dir))),
    // ordered tool-journey census (sequence discovery; q112 sibling)
    "q116_tool_paths" -> ((s, dir) =>
      graft.operators.Curation.toolPaths(transcripts(s, dir), k = 4)),
    // one-scan multi-granularity rollup (conv-level + corpus-level per
    // window via grouping sets)
    "q119_rollup_grouping_sets" -> ((s, dir) =>
      graft.rollup.Rollup.multiGranularity(transcripts(s, dir), Tier.H1)),
    // turn-identity integrity audit; driver turn_idx is row_number-
    // derived (always clean), so the query audits a frame with every
    // turn_idx % 7 == 3 removed — holes and shifted spans become dense
    // and the mismatch arithmetic is actually exercised (the q111
    // reversal trick); the clean path and dup detection are spec-pinned
    "q120_turn_integrity" -> ((s, dir) =>
      graft.operators.Curation.turnIntegrity(
        transcripts(s, dir).filter(
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.col("turn_idx"),
            org.apache.spark.sql.functions.lit(7)) =!= 3))),
    // read-time quantiles FROM the mergeable bucket histogram (the
    // Prometheus histogram_quantile reconstruction over q49's census)
    "q121_histogram_quantile" -> ((s, dir) =>
      graft.rollup.Rollup.histogramQuantile(transcripts(s, dir),
        Tier.H1, bucketWidth = 50)),
    // Efraimidis-Spirakis weighted sample (priority ln(u)/w, hash u);
    // selection-only doubles — the output carries no float column
    "q122_weighted_sample" -> ((s, dir) =>
      graft.operators.Curation.weightedSample(transcripts(s, dir), k = 200)),
    // mergeability proof-by-query: the 1h histogram computed by MERGING
    // stored 1m histogram artifacts (counts summed, pct recomputed) —
    // the oracle computes it directly from raw; both must be identical
    "q123_histogram_merge" -> ((s, dir) =>
      graft.rollup.Rollup.mergeHistogram(
        graft.rollup.Rollup.charLenHistogram(transcripts(s, dir),
          Tier.M1, bucketWidth = 50), Tier.H1)),
    // Misra-Gries heavy hitters at exhaustive capacity (no trim fires,
    // counts exact) vs the q75 exact-top-k oracle — the sketch
    // machinery verified at settings where it must equal the exact answer
    "q124_term_topk_sketch" -> ((s, dir) =>
      graft.operators.SeriesOps.termTopKSketch(transcripts(s, dir),
        k = 50, capacity = 65536)),
    // bounded-state top-k per key (mergeable k-summary aggregation, the
    // skew-immune sibling of q37's window form) — same QUALIFY oracle
    "q125_topk_per_key_agg" -> ((s, dir) =>
      graft.operators.RefOps.topKPerKeyAgg(
        s.read.parquet(s"$dir/events.parquet"), k = 3)),
    // snapshot diff between two 1d-rollup builds: 'old' sees only rows
    // before a MID-DAY cutoff (2024-01-20 12:00), 'new' sees all — so
    // the boundary day exercises 'changed' (same key, moved measures)
    // and later days exercise 'added'; the incremental==rebuild audit
    // as a driver query
    "q128_rollup_diff" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, lit}
      val tr = transcripts(s, dir)
      val sel = Seq("conv_id", "window_start", "turn_count",
        "char_len_sum", "tool_calls").map(col)
      val cut = lit("2024-01-20 12:00:00").cast("timestamp_ntz")
      graft.operators.SnapshotDiff.diff(
        Rollup.fromRaw(tr.filter(col("ts") < cut), Tier.D1).select(sel: _*),
        Rollup.fromRaw(tr, Tier.D1).select(sel: _*),
        keys = Seq("conv_id", "window_start"),
        measures = Seq("turn_count", "char_len_sum", "tool_calls"))
    }),
    // Hampel robust-outlier filter: trailing-7-day rolling median +
    // MAD band over the daily turn series — exact order statistics
    // from the window array (no engine median() on either side), so
    // the oracle mirrors the element arithmetic bit-for-bit
    "q129_hampel_outliers" -> ((s, dir) =>
      graft.operators.SeriesOps.hampelDaily(transcripts(s, dir),
        w = 7, k = 3.0)),
    // daily session coverage: interval-union active time + sweep-line
    // peak concurrency over day-sliced sessions — the utilization
    // statistic q97's opened/closed counts don't give
    "q130_session_coverage" -> ((s, dir) =>
      graft.operators.SeriesOps.sessionCoverageDaily(transcripts(s, dir),
        gapSeconds = 1800L)),
    // exact trailing-7-day distinct actives (DAU + WAU) via the
    // presence-explode identity — no windowed COUNT(DISTINCT) exists
    // distributively in either engine
    "q131_rolling_active" -> ((s, dir) =>
      graft.operators.SeriesOps.rollingActiveDaily(transcripts(s, dir), w = 7)),
    // DataSketches-HLL mergeable-artifact sibling (rows-only: DuckDB
    // cannot reproduce HLL binaries; error bound pinned vs q131 in
    // SeriesOpsSpec)
    "q132_rolling_active_sketch" -> ((s, dir) =>
      graft.operators.SeriesOps.rollingActiveSketchDaily(
        transcripts(s, dir), w = 7, lgK = 12)),
    // order-independent whole-corpus checksum — one mergeable scalar
    // for cross-warehouse parity (q115's fingerprints drill down when
    // the scalars disagree)
    "q136_corpus_checksum" -> ((s, dir) =>
      graft.operators.Curation.corpusChecksum(transcripts(s, dir))),
    // per-day checksum slice (day rows ADD up to q136's scalar; null-ts
    // rows keep a NULL day group so dirty rows stay in the parity
    // domain)
    "q137_daily_checksum" -> ((s, dir) =>
      graft.operators.Curation.corpusChecksumDaily(transcripts(s, dir))),
    // classical OLS fit per conversation (slope/intercept/R²) — the
    // q48/q67 regression family completed; exact integer moments, the
    // pearsonFromMoments exactness discipline
    "q138_ols_trend" -> ((s, dir) =>
      graft.operators.RefOps.olsTrend(transcripts(s, dir))),
    // arbitrary-range continuous aggregate answered FROM the tier
    // cascade (whole days from 1d, edge hours/minutes from 1h/1m, raw
    // only sub-minute) — the ragged range exercises every ladder level;
    // oracle = direct aggregation of raw turns over the same range
    "q140_tier_stitch" -> ((s, dir) =>
      Rollup.stitchRange(transcripts(s, dir),
        "2024-01-03 07:41:23", "2024-01-27 18:22:05")),
    // the same range served from STORED warehouse tiers (RollupJob
    // materializes rollup_1m/1h/1d once; the query is manifest-pruned
    // reads + the <=2 sub-minute raw edges) — same oracle as q140:
    // the stitch must equal direct raw aggregation either way
    "q141_tier_stitch_stored" -> ((s, dir) => {
      val wh = stitchWarehouse(s, dir)
      Rollup.stitchRangeStored(s,
        new graft.table.SnapshotTable(s"$wh/rollup_1m"),
        new graft.table.SnapshotTable(s"$wh/rollup_1h"),
        new graft.table.SnapshotTable(s"$wh/rollup_1d"),
        transcripts(s, dir),
        "2024-01-03 07:41:23", "2024-01-27 18:22:05")
    })
  )

  private val rollupSelect: String =
    """SELECT
      |  conv_id,
      |  WSTART AS window_start,
      |  COUNT(*) AS turn_count,
      |  COUNT(*) FILTER (WHERE role = 'user') AS user_turns,
      |  COUNT(*) FILTER (WHERE role = 'assistant') AS assistant_turns,
      |  COUNT(tool) AS tool_calls,
      |  CAST(SUM(LENGTH(text)) AS BIGINT) AS char_len_sum,
      |  CAST(MIN(LENGTH(text)) AS BIGINT) AS char_len_min,
      |  CAST(MAX(LENGTH(text)) AS BIGINT) AS char_len_max,
      |  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS token_sum,
      |  MIN(turn_idx) AS min_turn_idx,
      |  MAX(turn_idx) AS max_turn_idx,
      |  ARG_MIN(text, turn_idx) AS first_text,
      |  ARG_MAX(text, turn_idx) AS last_text,
      |  CAST(SUM(LENGTH(text)) AS BIGINT) * 1.0 / COUNT(*) AS char_len_avg,
      |  COUNT(*) * 1.0 / WSECONDS AS turn_rate
      |FROM transcripts
      |GROUP BY 1, 2""".stripMargin

  /** PAA + SAX CTE chain (8 segments; the SeriesOps.paaSax expressions
    * verbatim) — shared by the q66 symbolization and the q73 motif
    * census so the two oracles cannot drift apart.
    */
  private val saxCte: String =
    """, b AS (
      |  SELECT conv_id, turn_idx, CAST(LENGTH(text) AS BIGINT) AS char_len
      |  FROM transcripts WHERE turn_idx IS NOT NULL AND text IS NOT NULL),
      |r AS (
      |  SELECT conv_id, char_len,
      |    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn,
      |    COUNT(*) OVER (PARTITION BY conv_id) AS n,
      |    CAST(SUM(char_len) OVER (PARTITION BY conv_id) AS BIGINT) AS s,
      |    SUM(char_len * char_len) OVER (PARTITION BY conv_id) AS ss
      |  FROM b),
      |g AS (
      |  SELECT conv_id, ((rn - 1) * 8) // n AS seg,
      |    COUNT(*) AS n_in_seg,
      |    CAST(SUM(char_len) AS BIGINT) AS seg_sum,
      |    MIN(n) AS cn, MIN(s) AS cs, MIN(ss) AS css
      |  FROM r GROUP BY 1, 2),
      |z AS (
      |  SELECT conv_id, seg, n_in_seg,
      |    CAST(seg_sum AS DOUBLE) / CAST(n_in_seg AS DOUBLE) AS paa,
      |    CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE) AS mu,
      |    (CAST(css AS DOUBLE) - CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE)
      |       / CAST(cn AS DOUBLE)) / CAST(cn AS DOUBLE) AS vr
      |  FROM g),
      |zz AS (
      |  SELECT conv_id, seg, n_in_seg, paa,
      |    CASE WHEN vr > 0 THEN (paa - mu) / SQRT(vr) ELSE 0.0 END AS zval
      |  FROM z)""".stripMargin

  private val saxSymbolCase: String =
    """CASE WHEN zval < -0.6744897501960817 THEN 'a'
      |       WHEN zval < 0 THEN 'b'
      |       WHEN zval < 0.6744897501960817 THEN 'c'
      |       ELSE 'd' END""".stripMargin

  /** Session-assignment CTE (30-minute gap, microsecond arithmetic) —
    * shared by the q19 summary and the q36 interval-join oracle.
    */
  private val sessionCte: String =
    """, flags AS (
      |  SELECT conv_id, turn_idx, ts,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |              OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS ns
      |  FROM transcripts
      |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)),
      |assigned AS (
      |  SELECT conv_id, ts,
      |    CAST(SUM(ns) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_idx
      |  FROM flags)""".stripMargin

  private def rollupOracle(trunc: String, seconds: Long): String =
    Transcripts.oracle(
      rollupSelect
        .replace("WSTART", s"DATE_TRUNC('$trunc', ts)")
        .replace("WSECONDS", s"$seconds.0"))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q01_transcripts" -> Transcripts.oracle("SELECT * FROM transcripts"),
    "q02_rollup_1m" -> rollupOracle("minute", 60L),
    "q03_rollup_1h" -> rollupOracle("hour", 3600L),
    "q04_rollup_1d" -> rollupOracle("day", 86400L),
    "q05_rollup_1m_salted" -> rollupOracle("minute", 60L),
    "q06_tool_freq_1h" -> Transcripts.oracle(
      """SELECT conv_id, DATE_TRUNC('hour', ts) AS window_start, tool, COUNT(*) AS n
        |FROM transcripts WHERE tool IS NOT NULL GROUP BY 1, 2, 3""".stripMargin),
    "q07_tool_freq_1d" -> Transcripts.oracle(
      """SELECT conv_id, DATE_TRUNC('day', ts) AS window_start, tool, COUNT(*) AS n
        |FROM transcripts WHERE tool IS NOT NULL GROUP BY 1, 2, 3""".stripMargin),
    "q08_blocks_roundtrip" -> Transcripts.oracle(
      "SELECT conv_id, ts, CAST(LENGTH(text) AS DOUBLE) AS value FROM transcripts"),
    "q09_gapfill_1h" -> Transcripts.oracle(
      """, r AS (
        |  SELECT conv_id, DATE_TRUNC('hour', ts) AS window_start,
        |         CAST(SUM(LENGTH(text)) AS BIGINT) * 1.0 / COUNT(*) AS value
        |  FROM transcripts GROUP BY 1, 2),
        |p AS (
        |  SELECT conv_id, window_start, value,
        |         LEAD(window_start) OVER (PARTITION BY conv_id ORDER BY window_start) AS next_ws,
        |         LEAD(value) OVER (PARTITION BY conv_id ORDER BY window_start) AS next_v
        |  FROM r),
        |g AS (
        |  SELECT conv_id, window_start AS ws, next_ws, value, next_v,
        |         UNNEST(generate_series(window_start + INTERVAL 1 HOUR,
        |                                next_ws - INTERVAL 1 HOUR,
        |                                INTERVAL 1 HOUR)) AS gs
        |  FROM p
        |  WHERE next_ws IS NOT NULL AND next_ws > window_start + INTERVAL 1 HOUR)
        |SELECT conv_id, window_start, value, FALSE AS filled FROM p
        |UNION ALL
        |SELECT conv_id, gs AS window_start,
        |       value + (next_v - value) *
        |         (CAST(EPOCH(gs) - EPOCH(ws) AS DOUBLE) /
        |          CAST(EPOCH(next_ws) - EPOCH(ws) AS DOUBLE)) AS value,
        |       TRUE AS filled
        |FROM g""".stripMargin),
    "q10_typed_cast" ->
      """SELECT event_id,
        |  TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k_int,
        |  TRY_CAST(event_type AS INTEGER) AS bad_int,
        |  CAST(TRUNC(value) AS INTEGER) AS value_int,
        |  CAST(CAST(TRUNC(value) AS INTEGER) AS DOUBLE) != value AS precision_loss,
        |  value != 0.0 AS value_bool
        |FROM events""".stripMargin,
    "q11_time_normalize" ->
      """SELECT event_id,
        |  CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) AS unix_sec,
        |  MAKE_TIMESTAMP(CAST(EPOCH(DATE_TRUNC('second', ts)) AS BIGINT) * 1000000) AS ts_from_unix,
        |  STRPTIME(STRFTIME(ts, '%Y-%m-%dT%H:%M:%S.%f'), '%Y-%m-%dT%H:%M:%S.%f') AS ts_from_iso
        |FROM events""".stripMargin,
    "q12_row_id" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
        |  SHA256('42' || ':' || conv_id || ':' || CAST(turn_idx AS VARCHAR)) AS row_id
        |FROM transcripts""".stripMargin),
    "q13_replay_semijoin" -> Transcripts.oracle(
      "SELECT * FROM transcripts WHERE turn_idx % 17 = 3"),
    "q14_device_fanout" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
        |       'root.metrics.' || conv_id AS device_path,
        |       CAST(LENGTH(text) AS BIGINT) AS char_len
        |FROM transcripts
        |UNION ALL
        |SELECT conv_id, turn_idx,
        |       'root.tools.' || conv_id || '.' || tool,
        |       CAST(LENGTH(text) AS BIGINT)
        |FROM transcripts WHERE tool IS NOT NULL""".stripMargin),
    "q15_latest_per_key" ->
      """SELECT user_id, event_id, ts FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""".stripMargin,
    "q37_topk_per_key" ->
      """SELECT user_id, event_id, ts,
        |  CAST(ROW_NUMBER() OVER w AS INT) AS rank
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
        |QUALIFY rank <= 3""".stripMargin,
    "q16_running_counters" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
        |  COUNT(*) OVER w AS processed_rows,
        |  CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) OVER w AS BIGINT) AS tool_calls_so_far
        |FROM transcripts
        |WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),
    "q17_asof_enrich" -> Transcripts.oracle(
      """, r AS (
        |  SELECT conv_id, DATE_TRUNC('minute', ts) AS window_start,
        |         COUNT(*) AS turn_count,
        |         CAST(SUM(LENGTH(text)) AS BIGINT) AS char_len_sum
        |  FROM transcripts GROUP BY 1, 2)
        |SELECT t.conv_id, t.turn_idx, t.ts,
        |       r.window_start AS window_start_asof,
        |       r.turn_count AS turn_count_asof,
        |       r.char_len_sum AS char_len_sum_asof
        |FROM transcripts t ASOF LEFT JOIN r
        |  ON t.conv_id = r.conv_id AND t.ts >= r.window_start""".stripMargin),
    "q18_rollup_quantiles" -> Transcripts.oracle(
      """SELECT conv_id, DATE_TRUNC('hour', ts) AS window_start,
        |  ROUND(quantile_cont(LENGTH(text), 0.5), 6) AS char_len_p50,
        |  ROUND(quantile_cont(LENGTH(text), 0.95), 6) AS char_len_p95
        |FROM transcripts GROUP BY 1, 2""".stripMargin),
    "q19_sessionize" -> Transcripts.oracle(sessionCte +
      """
        |SELECT conv_id, session_idx,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS turns,
        |  CAST(EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts)) AS DOUBLE) / 1000000.0 AS duration_sec
        |FROM assigned GROUP BY 1, 2""".stripMargin),
    "q36_interval_join" -> Transcripts.oracle(sessionCte +
      """,
        |sess AS (
        |  SELECT conv_id, session_idx,
        |    MIN(ts) AS session_start, MAX(ts) AS session_end,
        |    COUNT(*) AS turns,
        |    CAST(EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts)) AS DOUBLE) / 1000000.0 AS duration_sec
        |  FROM assigned GROUP BY 1, 2)
        |SELECT t.conv_id, t.turn_idx, t.ts, s.session_idx,
        |       s.session_start, s.session_end, s.turns, s.duration_sec
        |FROM transcripts t JOIN sess s
        |  ON t.conv_id = s.conv_id
        | AND s.session_start <= t.ts AND t.ts <= s.session_end""".stripMargin),
    "q41_counter_rate" ->
      """SELECT event_id, user_id, ts, value,
        |  CASE WHEN prev_ts IS NULL THEN NULL
        |       WHEN EPOCH_US(ts) - EPOCH_US(prev_ts) <= 0 THEN NULL
        |       ELSE (CASE WHEN value >= prev_value THEN value - prev_value
        |                  ELSE value END)
        |            / (CAST(EPOCH_US(ts) - EPOCH_US(prev_ts) AS DOUBLE) / 1000000.0)
        |  END AS rate_per_sec
        |FROM (SELECT *, LAG(value) OVER w AS prev_value, LAG(ts) OVER w AS prev_ts
        |      FROM events
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin,
    "q42_downsample_minmax" ->
      """WITH b AS (
        |  SELECT user_id, DATE_TRUNC('hour', ts) AS window_start,
        |         event_id, ts, value
        |  FROM events WHERE value IS NOT NULL)
        |SELECT user_id, window_start, 'min' AS kind, event_id, ts, value FROM b
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, window_start
        |                           ORDER BY value ASC, event_id ASC) = 1
        |UNION ALL
        |SELECT user_id, window_start, 'max' AS kind, event_id, ts, value FROM b
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, window_start
        |                           ORDER BY value DESC, event_id DESC) = 1""".stripMargin,
    "q43_asof_forward_tolerance" -> Transcripts.oracle(
      """, r AS (
        |  SELECT conv_id, DATE_TRUNC('minute', ts) AS window_start,
        |         COUNT(*) AS turn_count
        |  FROM transcripts GROUP BY 1, 2),
        |j AS (
        |  SELECT t.conv_id, t.turn_idx, t.ts,
        |         r.window_start AS window_start_asof,
        |         r.turn_count AS turn_count_asof,
        |         ROW_NUMBER() OVER (PARTITION BY t.conv_id, t.turn_idx
        |                            ORDER BY r.window_start ASC) AS rn
        |  FROM transcripts t LEFT JOIN r
        |    ON t.conv_id = r.conv_id
        |   AND r.window_start >= t.ts
        |   AND EPOCH_US(r.window_start) - EPOCH_US(t.ts) <= 300000000)
        |SELECT conv_id, turn_idx, ts, window_start_asof, turn_count_asof
        |FROM j WHERE rn = 1""".stripMargin),
    "q44_gapfill_locf" -> Transcripts.oracle(
      """, r AS (
        |  SELECT conv_id, DATE_TRUNC('hour', ts) AS window_start,
        |         CAST(SUM(LENGTH(text)) AS BIGINT) * 1.0 / COUNT(*) AS value
        |  FROM transcripts GROUP BY 1, 2),
        |p AS (
        |  SELECT conv_id, window_start, value,
        |         LEAD(window_start) OVER (PARTITION BY conv_id ORDER BY window_start) AS next_ws
        |  FROM r),
        |g AS (
        |  SELECT conv_id, value,
        |         UNNEST(generate_series(window_start + INTERVAL 1 HOUR,
        |                                next_ws - INTERVAL 1 HOUR,
        |                                INTERVAL 1 HOUR)) AS gs
        |  FROM p
        |  WHERE next_ws IS NOT NULL AND next_ws > window_start + INTERVAL 1 HOUR)
        |SELECT conv_id, window_start, value, FALSE AS filled FROM p
        |UNION ALL
        |SELECT conv_id, gs AS window_start, value, TRUE AS filled FROM g""".stripMargin),
    // a turn at ts belongs to the w/s = 2 epoch-aligned hour windows
    // starting at floor30(ts) and floor30(ts) - 30m, all in integer µs.
    // Spark's window(ts, w, s) FLOOR-aligns; DuckDB's // truncates
    // toward zero, so the positive-modulo idiom keeps pre-1970
    // timestamps aligned identically (same trick as RangeJoin.cellOf)
    "q45_rollup_sliding" -> Transcripts.oracle(
      """, s AS (
        |  SELECT t.*,
        |         MAKE_TIMESTAMP(EPOCH_US(ts)
        |                        - ((EPOCH_US(ts) % 1800000000) + 1800000000) % 1800000000
        |                        - o.k * 1800000000) AS window_start
        |  FROM transcripts t CROSS JOIN (VALUES (0), (1)) o(k))
        |SELECT conv_id, window_start,
        |  COUNT(*) AS turn_count,
        |  COUNT(*) FILTER (WHERE role = 'user') AS user_turns,
        |  COUNT(tool) AS tool_calls,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS char_len_sum,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) * 1.0 / COUNT(*) AS char_len_avg
        |FROM s GROUP BY 1, 2""".stripMargin),
    "q46_time_weighted_avg" -> Transcripts.oracle(
      """, d AS (
        |  SELECT conv_id, CAST(LENGTH(text) AS BIGINT) AS char_len,
        |         EPOCH_US(LEAD(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx))
        |           - EPOCH_US(ts) AS dt_us
        |  FROM transcripts
        |  WHERE text IS NOT NULL AND ts IS NOT NULL AND turn_idx IS NOT NULL)
        |SELECT conv_id,
        |  CASE WHEN SUM(dt_us) = 0 THEN NULL
        |       ELSE CAST(SUM(CAST(char_len AS HUGEINT) * dt_us) AS DOUBLE)
        |            / CAST(SUM(dt_us) AS DOUBLE) END AS twa_char_len
        |FROM d WHERE dt_us IS NOT NULL GROUP BY 1""".stripMargin),
    "q47_zscore_anomaly" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, turn_idx, CAST(LENGTH(text) AS BIGINT) AS char_len,
        |    COUNT(CAST(LENGTH(text) AS BIGINT)) OVER w AS n,
        |    SUM(CAST(LENGTH(text) AS BIGINT)) OVER w AS s,
        |    SUM(CAST(LENGTH(text) AS BIGINT) * CAST(LENGTH(text) AS BIGINT)) OVER w AS ss
        |  FROM transcripts
        |  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
        |               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
        |v AS (
        |  SELECT conv_id, turn_idx, char_len, n, s,
        |    (CAST(ss AS DOUBLE)
        |       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1.0) AS var
        |  FROM b),
        |z AS (
        |  SELECT conv_id, turn_idx, char_len, n, var,
        |    (CAST(char_len AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      / SQRT(CASE WHEN var > 0 THEN var END) AS zval
        |  FROM v)
        |SELECT conv_id, turn_idx, char_len,
        |  CASE WHEN n >= 8 AND var > 0 THEN ROUND(zval, 6) END AS zscore,
        |  CASE WHEN n >= 8 AND var > 0 THEN (ABS(zval) > 2.0) END AS is_anomaly
        |FROM z""".stripMargin),
    // exact integer moments, then ONE fixed double expression — the
    // same hash-stability idiom as q47 (operand order mirrors Spark)
    "q48_drift_corr" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, COUNT(*) AS n,
        |    CAST(SUM(turn_idx) AS BIGINT) AS sx,
        |    CAST(SUM(CAST(LENGTH(text) AS BIGINT)) AS BIGINT) AS sy,
        |    CAST(SUM(turn_idx * CAST(LENGTH(text) AS BIGINT)) AS BIGINT) AS sxy,
        |    CAST(SUM(CAST(turn_idx AS BIGINT) * turn_idx) AS BIGINT) AS sxx,
        |    CAST(SUM(CAST(LENGTH(text) AS BIGINT) * LENGTH(text)) AS BIGINT) AS syy
        |  FROM transcripts
        |  WHERE text IS NOT NULL AND turn_idx IS NOT NULL GROUP BY 1),
        |v AS (
        |  SELECT conv_id, n,
        |    CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cov,
        |    CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS vx,
        |    CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS vy
        |  FROM b)
        |SELECT conv_id, n,
        |  CASE WHEN n >= 3 AND vx > 0 AND vy > 0
        |       THEN ROUND(cov / SQRT(vx * vy), 6) END AS drift_corr
        |FROM v""".stripMargin),
    // floor-aligned hour windows (q45 idiom); // is floor here because
    // LENGTH is non-negative
    "q49_len_histogram" -> Transcripts.oracle(
      """, h AS (
        |  SELECT MAKE_TIMESTAMP(EPOCH_US(ts)
        |           - ((EPOCH_US(ts) % 3600000000) + 3600000000) % 3600000000)
        |           AS window_start,
        |         LENGTH(text) // 50 AS bucket
        |  FROM transcripts)
        |SELECT window_start, CAST(bucket AS BIGINT) AS bucket,
        |  COUNT(*) AS cnt,
        |  CAST(COUNT(*) AS DOUBLE)
        |    / CAST(SUM(COUNT(*)) OVER (PARTITION BY window_start) AS DOUBLE) AS pct
        |FROM h GROUP BY 1, 2""".stripMargin),
    // the IDENTICAL left fold Spark's aggregate() runs: acc seeds at
    // the first ordered sample, (1.0 - 0.3) constant-folds to the same
    // IEEE double in both engines
    "q50_ewma" -> Transcripts.oracle(
      """, e AS (
        |  SELECT conv_id, ts, turn_idx, LENGTH(text) AS len
        |  FROM transcripts
        |  WHERE text IS NOT NULL AND ts IS NOT NULL AND turn_idx IS NOT NULL)
        |SELECT conv_id, COUNT(*) AS n,
        |  list_reduce(list(CAST(len AS DOUBLE) ORDER BY ts, turn_idx),
        |              (acc, x) -> 0.3 * x + (1.0 - 0.3) * acc) AS ewma_char_len
        |FROM e GROUP BY 1""".stripMargin),
    // the clamped CUSUM recurrence via its max-plus closed form
    // s_i = S_i - min(0, running_min(S)); all state is n-scaled exact
    // longs, the alarm compare is pure-integer, and the single double
    // division mirrors Spark's operand order (q47 idiom)
    "q51_cusum_changepoint" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, turn_idx, CAST(LENGTH(text) AS BIGINT) AS char_len
        |  FROM transcripts WHERE text IS NOT NULL AND turn_idx IS NOT NULL),
        |s AS (
        |  SELECT *, COUNT(*) OVER (PARTITION BY conv_id) AS n,
        |         SUM(char_len) OVER (PARTITION BY conv_id) AS sx
        |  FROM b),
        |d AS (
        |  SELECT *, n * char_len - sx - n * 1 AS dpos,
        |         sx - n * char_len - n * 1 AS dneg
        |  FROM s),
        |c AS (
        |  SELECT *, SUM(dpos) OVER w AS cp, SUM(dneg) OVER w AS cn
        |  FROM d WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
        |                      ROWS UNBOUNDED PRECEDING)),
        |m AS (
        |  SELECT *, cp - LEAST(0, MIN(cp) OVER w) AS spos,
        |         cn - LEAST(0, MIN(cn) OVER w) AS sneg
        |  FROM c WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
        |                      ROWS UNBOUNDED PRECEDING))
        |SELECT conv_id, turn_idx, char_len,
        |  ROUND(CAST(spos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS cusum_pos,
        |  ROUND(CAST(sneg AS DOUBLE) / CAST(n AS DOUBLE), 6) AS cusum_neg,
        |  (spos > n * 3 OR sneg > n * 3) AS is_change
        |FROM m""".stripMargin),
    // serial correlation over lagged pairs: exact integer moments then
    // one fixed double expression (the q48 idiom over LAG pairs)
    "q52_lag_autocorr" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, turn_idx, CAST(LENGTH(text) AS BIGINT) AS y
        |  FROM transcripts WHERE text IS NOT NULL AND turn_idx IS NOT NULL),
        |p AS (
        |  SELECT conv_id,
        |         LAG(y, 1) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS x, y
        |  FROM b),
        |m AS (
        |  SELECT conv_id, COUNT(*) AS n_pairs,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM p WHERE x IS NOT NULL GROUP BY 1)
        |SELECT conv_id, n_pairs,
        |  CASE WHEN n_pairs >= 3
        |        AND CAST(n_pairs AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
        |        AND CAST(n_pairs AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
        |       THEN ROUND((CAST(n_pairs AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |            / SQRT((CAST(n_pairs AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |                 * (CAST(n_pairs AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
        |  END AS autocorr
        |FROM m""".stripMargin),
    // median/MAD are exact type-7 interpolations (quantile_cont ≡
    // Spark percentile, the q18 guarantee); the z mirrors Spark's
    // operand order exactly
    "q53_mad_outliers" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, turn_idx, CAST(LENGTH(text) AS BIGINT) AS char_len
        |  FROM transcripts WHERE text IS NOT NULL AND turn_idx IS NOT NULL),
        |m AS (
        |  SELECT *, quantile_cont(char_len, 0.5)
        |              OVER (PARTITION BY conv_id) AS med
        |  FROM b),
        |a AS (
        |  SELECT *, quantile_cont(ABS(CAST(char_len AS DOUBLE) - med), 0.5)
        |              OVER (PARTITION BY conv_id) AS mad
        |  FROM m)
        |SELECT conv_id, turn_idx, char_len,
        |  CASE WHEN mad > 0
        |       THEN ROUND(0.6745 * (CAST(char_len AS DOUBLE) - med) / mad, 6)
        |  END AS robust_z,
        |  CASE WHEN mad > 0
        |       THEN ABS(0.6745 * (CAST(char_len AS DOUBLE) - med) / mad) > 3.5
        |  END AS is_outlier
        |FROM a""".stripMargin),
    // the q46 lead-diff over (ts, turn_idx) order; quantile_cont over
    // integer µs ≡ Spark percentile (the q18 guarantee)
    "q54_turn_gap_stats" -> Transcripts.oracle(
      """, g AS (
        |  SELECT conv_id,
        |         LEAD(EPOCH_US(ts)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
        |           - EPOCH_US(ts) AS dt_us
        |  FROM transcripts WHERE ts IS NOT NULL AND turn_idx IS NOT NULL)
        |SELECT conv_id, COUNT(*) AS n_gaps,
        |  quantile_cont(dt_us, 0.5) AS gap_p50_us,
        |  quantile_cont(dt_us, 0.95) AS gap_p95_us,
        |  CAST(MAX(dt_us) AS BIGINT) AS gap_max_us
        |FROM g WHERE dt_us IS NOT NULL GROUP BY 1""".stripMargin),
    // doubled ranks keep every moment an exact long; tie-averaged
    // length rank = 2·RANK + peers − 1; the final expression mirrors
    // q48's operand order exactly
    "q55_spearman_drift" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, turn_idx, CAST(LENGTH(text) AS BIGINT) AS char_len
        |  FROM transcripts WHERE text IS NOT NULL AND turn_idx IS NOT NULL),
        |r AS (
        |  SELECT conv_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx)
        |         AS BIGINT) * 2 AS x,
        |    CAST(RANK() OVER (PARTITION BY conv_id ORDER BY char_len)
        |         AS BIGINT) * 2
        |      + COUNT(*) OVER (PARTITION BY conv_id, char_len) - 1 AS y
        |  FROM b),
        |m AS (
        |  SELECT conv_id, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM r GROUP BY 1)
        |SELECT conv_id, n,
        |  CASE WHEN n >= 3
        |        AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
        |        AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
        |       THEN ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |            / SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |                 * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
        |  END AS spearman_corr
        |FROM m""".stripMargin),
    // the Holt recurrence as a recursive CTE — one step per row with
    // the IDENTICAL double expressions Spark's struct fold evaluates
    // (list_reduce is unusable here: DuckDB mutates a struct
    // accumulator field-by-field in place, so the trend lambda would
    // see the already-updated level). The Transcripts.oracle wrapper
    // owns the top-level WITH, so RECURSIVE is declared in a nested
    // subquery CTE, which DuckDB lets reference the outer CTEs.
    "q56_holt_smooth" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, CAST(LENGTH(text) AS DOUBLE) AS v,
        |    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn,
        |    COUNT(*) OVER (PARTITION BY conv_id) AS n
        |  FROM transcripts WHERE text IS NOT NULL AND turn_idx IS NOT NULL)
        |SELECT conv_id, n, l AS holt_level, t AS holt_trend,
        |       l + t AS holt_forecast
        |FROM (
        |  WITH RECURSIVE step AS (
        |    SELECT conv_id, rn, n, v AS l, CAST(0 AS DOUBLE) AS t
        |    FROM b WHERE rn = 1
        |    UNION ALL
        |    SELECT nx.conv_id, nx.rn, nx.n,
        |      0.3 * nx.v + (1.0 - 0.3) * (s.l + s.t) AS l,
        |      0.2 * ((0.3 * nx.v + (1.0 - 0.3) * (s.l + s.t)) - s.l)
        |        + (1.0 - 0.2) * s.t AS t
        |    FROM step s JOIN b nx
        |      ON nx.conv_id = s.conv_id AND nx.rn = s.rn + 1)
        |  SELECT * FROM step)
        |WHERE rn = n""".stripMargin),
    // start-flag cumsum over the canonical turn order; first row via
    // LAG(turn_idx) IS NULL (cannot be confused with a null ROLE), run
    // break via IS NOT DISTINCT FROM ≡ Spark's <=>
    "q57_role_runs" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, turn_idx, role, CAST(LENGTH(text) AS BIGINT) AS char_len
        |  FROM transcripts WHERE turn_idx IS NOT NULL),
        |f AS (
        |  SELECT *, CASE WHEN LAG(turn_idx) OVER w IS NOT NULL
        |                  AND role IS NOT DISTINCT FROM LAG(role) OVER w
        |            THEN 0 ELSE 1 END AS nw
        |  FROM b WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
        |r AS (
        |  SELECT *, CAST(SUM(nw) OVER (PARTITION BY conv_id ORDER BY turn_idx
        |                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
        |  FROM f)
        |SELECT conv_id, run_id, role, COUNT(*) AS run_len,
        |  MIN(turn_idx) AS start_idx, MAX(turn_idx) AS end_idx,
        |  CAST(SUM(char_len) AS BIGINT) AS char_len_sum
        |FROM r GROUP BY 1, 2, 3""".stripMargin),
    // value-based RANGE frame over integer µs — both engines end the
    // frame at the last order-key peer, so equal-µs ties are symmetric
    "q58_burst_flags" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, turn_idx, EPOCH_US(ts) AS us
        |  FROM transcripts WHERE ts IS NOT NULL AND turn_idx IS NOT NULL),
        |c AS (
        |  SELECT conv_id, turn_idx,
        |    COUNT(*) OVER (PARTITION BY conv_id ORDER BY us
        |                   RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        |      AS burst_count
        |  FROM b)
        |SELECT conv_id, turn_idx, burst_count,
        |  burst_count >= 20 AS is_burst
        |FROM c""".stripMargin),
    // exact integer moments (Σc, Σc²), then one fixed double expression
    // per output mirroring Spark's operand order
    "q59_tool_diversity" -> Transcripts.oracle(
      """, c AS (
        |  SELECT conv_id, tool, COUNT(*) AS c
        |  FROM transcripts WHERE tool IS NOT NULL GROUP BY 1, 2),
        |m AS (
        |  SELECT conv_id, COUNT(*) AS n_tools,
        |    CAST(SUM(c) AS BIGINT) AS n_tool_calls,
        |    CAST(SUM(c * c) AS BIGINT) AS ss
        |  FROM c GROUP BY 1)
        |SELECT conv_id, n_tools, n_tool_calls,
        |  ROUND(1.0 - CAST(ss AS DOUBLE)
        |    / (CAST(n_tool_calls AS DOUBLE) * n_tool_calls), 6) AS simpson_diversity,
        |  ROUND(CAST(n_tool_calls AS DOUBLE) * n_tool_calls
        |    / CAST(ss AS DOUBLE), 6) AS effective_tools
        |FROM m""".stripMargin),
    // successor existence via LEAD(turn_idx) — a null LEAD(role) with a
    // live successor is a real transition into an unattributed turn
    "q60_role_transitions" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, turn_idx, role
        |  FROM transcripts WHERE turn_idx IS NOT NULL),
        |p AS (
        |  SELECT role, LEAD(role) OVER w AS next_role,
        |         LEAD(turn_idx) OVER w AS nx
        |  FROM b WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
        |g AS (
        |  SELECT role, next_role, COUNT(*) AS cnt
        |  FROM p WHERE nx IS NOT NULL GROUP BY 1, 2)
        |SELECT role, next_role, cnt,
        |  CAST(cnt AS DOUBLE)
        |    / CAST(SUM(cnt) OVER (PARTITION BY role) AS DOUBLE) AS share
        |FROM g""".stripMargin),
    // running COUNT(DISTINCT) decomposed into a first-occurrence flag
    // (row_number over (conv, tool)) cumsummed over the turn order —
    // non-tool turns flag 0 and keep their row
    "q61_tool_vocab_growth" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, turn_idx, tool
        |  FROM transcripts WHERE turn_idx IS NOT NULL),
        |f AS (
        |  SELECT conv_id, turn_idx,
        |    CASE WHEN tool IS NOT NULL AND ROW_NUMBER() OVER (
        |           PARTITION BY conv_id, tool ORDER BY turn_idx) = 1
        |         THEN 1 ELSE 0 END AS fst
        |  FROM b)
        |SELECT conv_id, turn_idx,
        |  CAST(SUM(fst) OVER (PARTITION BY conv_id ORDER BY turn_idx
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS distinct_tools_so_far
        |FROM f""".stripMargin),
    // Spark dayofweek is 1=Sunday..7=Saturday; DuckDB dow is 0=Sunday —
    // the +1 pins the convention; avg is the rollup sum*1.0/count idiom
    "q62_hourly_profile" -> Transcripts.oracle(
      """SELECT
        |  CAST(EXTRACT(dow FROM ts) + 1 AS INTEGER) AS dow,
        |  CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
        |  COUNT(*) AS turn_count,
        |  COUNT(tool) AS tool_calls,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS char_len_sum,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) * 1.0 / COUNT(*) AS char_len_avg
        |FROM transcripts WHERE ts IS NOT NULL
        |GROUP BY 1, 2""".stripMargin),
    // ARG_MIN/ARG_MAX over the unique turn_idx key ≡ Spark min_by/max_by;
    // window_start is the q45 µs-floor MAKE_TIMESTAMP mirror
    "q63_ohlc_candles" -> Transcripts.oracle(
      """SELECT conv_id,
        |  MAKE_TIMESTAMP(EPOCH_US(ts)
        |    - ((EPOCH_US(ts) % 3600000000) + 3600000000) % 3600000000)
        |    AS window_start,
        |  COUNT(*) AS n_samples,
        |  ARG_MIN(CAST(LENGTH(text) AS BIGINT), turn_idx) AS open_len,
        |  CAST(MAX(LENGTH(text)) AS BIGINT) AS high_len,
        |  CAST(MIN(LENGTH(text)) AS BIGINT) AS low_len,
        |  ARG_MAX(CAST(LENGTH(text) AS BIGINT), turn_idx) AS close_len,
        |  CAST(MAX(LENGTH(text)) - MIN(LENGTH(text)) AS BIGINT) AS hl_range
        |FROM transcripts
        |WHERE ts IS NOT NULL AND turn_idx IS NOT NULL AND text IS NOT NULL
        |GROUP BY 1, 2""".stripMargin),
    // prev day = previous OBSERVED day (LAG over the sparse series);
    // pct is one fixed-shape division of the two exact counts
    "q64_daily_deltas" -> Transcripts.oracle(
      """, d AS (
        |  SELECT conv_id,
        |    MAKE_TIMESTAMP(EPOCH_US(ts)
        |      - ((EPOCH_US(ts) % 86400000000) + 86400000000) % 86400000000)
        |      AS day_start,
        |    COUNT(*) AS turn_count
        |  FROM transcripts WHERE ts IS NOT NULL GROUP BY 1, 2)
        |SELECT conv_id, day_start, turn_count,
        |  LAG(turn_count) OVER w AS prev_count,
        |  turn_count - LAG(turn_count) OVER w AS delta,
        |  ROUND(CAST(turn_count - LAG(turn_count) OVER w AS DOUBLE)
        |    / CAST(LAG(turn_count) OVER w AS DOUBLE), 6) AS pct_change
        |FROM d WINDOW w AS (PARTITION BY conv_id ORDER BY day_start)""".stripMargin),
    // (ts, turn_idx) order = the q19 session time axis; strict > bound
    "q65_gap_report" -> Transcripts.oracle(
      """, p AS (
        |  SELECT conv_id, turn_idx, ts,
        |    LEAD(ts) OVER w AS next_ts,
        |    LEAD(turn_idx) OVER w AS next_idx
        |  FROM transcripts WHERE ts IS NOT NULL AND turn_idx IS NOT NULL
        |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx))
        |SELECT conv_id, turn_idx AS from_idx, next_idx AS to_idx,
        |  ts AS gap_start, next_ts AS gap_end,
        |  EPOCH_US(next_ts) - EPOCH_US(ts) AS gap_us
        |FROM p WHERE EPOCH_US(next_ts) - EPOCH_US(ts) > 1800000000""".stripMargin),
    // integer segment index ((rn-1)*8)//n; per-conv population moments
    // stay longs; paa/mu/var/z are the Spark expressions verbatim
    "q66_paa_sax" -> Transcripts.oracle(
      saxCte +
      """
        |SELECT conv_id, seg, n_in_seg,
        |  ROUND(paa, 6) AS paa, ROUND(zval, 6) AS z,
        |  SYMCASE AS symbol
        |FROM zz""".stripMargin.replace("SYMCASE", saxSymbolCase)),
    // the oracle generates pairs by self-join; the engine by nested
    // array transforms — same slope multiset, same sorted extraction
    "q67_theilsen_slope" -> Transcripts.oracle(
      """, t AS (
        |  SELECT conv_id, CAST(turn_idx AS BIGINT) AS x,
        |    CAST(LENGTH(text) AS BIGINT) AS y,
        |    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx DESC) AS rn
        |  FROM transcripts WHERE turn_idx IS NOT NULL AND text IS NOT NULL),
        |tt AS (SELECT conv_id, x, y FROM t WHERE rn <= 32),
        |p AS (
        |  SELECT a.conv_id,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
        |  FROM tt a JOIN tt b ON a.conv_id = b.conv_id AND a.x < b.x)
        |SELECT conv_id, COUNT(*) AS n_pairs,
        |  ROUND(LIST_SORT(LIST(slope))[CAST((COUNT(*) + 1) // 2 AS INT)], 6)
        |    AS theil_slope
        |FROM p GROUP BY 1""".stripMargin),
    // hour buckets via the µs floor; dow/hod calendar reads of the
    // aligned bucket (q62 +1 convention); ratio multiplication-first
    "q68_seasonal_residual" -> Transcripts.oracle(
      """, h AS (
        |  SELECT MAKE_TIMESTAMP(EPOCH_US(ts)
        |      - ((EPOCH_US(ts) % 3600000000) + 3600000000) % 3600000000)
        |      AS hour_start,
        |    COUNT(*) AS turn_count
        |  FROM transcripts WHERE ts IS NOT NULL GROUP BY 1),
        |hh AS (
        |  SELECT hour_start, turn_count,
        |    CAST(EXTRACT(dow FROM hour_start) + 1 AS INTEGER) AS dow,
        |    CAST(EXTRACT(hour FROM hour_start) AS INTEGER) AS hod
        |  FROM h),
        |c AS (
        |  SELECT dow, hod, COUNT(*) AS cell_windows,
        |    CAST(SUM(turn_count) AS BIGINT) AS cell_sum
        |  FROM hh GROUP BY 1, 2)
        |SELECT hh.hour_start, hh.dow, hh.hod, hh.turn_count, c.cell_windows,
        |  ROUND(CAST(c.cell_sum AS DOUBLE) / CAST(c.cell_windows AS DOUBLE), 6)
        |    AS cell_avg,
        |  ROUND(CAST(hh.turn_count AS DOUBLE)
        |    - CAST(c.cell_sum AS DOUBLE) / CAST(c.cell_windows AS DOUBLE), 6)
        |    AS residual,
        |  ROUND(CAST(hh.turn_count AS DOUBLE) * CAST(c.cell_windows AS DOUBLE)
        |    / CAST(c.cell_sum AS DOUBLE), 6) AS ratio
        |FROM hh JOIN c USING (dow, hod)""".stripMargin),
    // reach = distinct conversations; jaccard denominator stays long
    "q69_tool_cooccurrence" -> Transcripts.oracle(
      """, d AS (
        |  SELECT DISTINCT conv_id, tool FROM transcripts WHERE tool IS NOT NULL),
        |rch AS (SELECT tool, COUNT(*) AS convs FROM d GROUP BY 1),
        |p AS (
        |  SELECT a.tool AS tool_a, b.tool AS tool_b, COUNT(*) AS convs_both
        |  FROM d a JOIN d b ON a.conv_id = b.conv_id AND a.tool < b.tool
        |  GROUP BY 1, 2)
        |SELECT p.tool_a, p.tool_b, p.convs_both,
        |  ra.convs AS convs_a, rb.convs AS convs_b,
        |  ROUND(CAST(p.convs_both AS DOUBLE)
        |    / CAST(ra.convs + rb.convs - p.convs_both AS DOUBLE), 6) AS jaccard
        |FROM p
        |JOIN rch ra ON p.tool_a = ra.tool
        |JOIN rch rb ON p.tool_b = rb.tool""".stripMargin),
    // (calls DESC, tool ASC) is a total order -> the k-cutoff is stable
    "q70_heavy_hitters_daily" -> Transcripts.oracle(
      """, c AS (
        |  SELECT MAKE_TIMESTAMP(EPOCH_US(ts)
        |      - ((EPOCH_US(ts) % 86400000000) + 86400000000) % 86400000000)
        |      AS day_start,
        |    tool, COUNT(*) AS calls
        |  FROM transcripts WHERE ts IS NOT NULL AND tool IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT day_start, tool, calls,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY day_start
        |                            ORDER BY calls DESC, tool) AS BIGINT) AS rank,
        |    CAST(SUM(calls) OVER (PARTITION BY day_start) AS BIGINT) AS day_total
        |  FROM c)
        |SELECT day_start, rank, tool, calls,
        |  ROUND(CAST(calls AS DOUBLE) / CAST(day_total AS DOUBLE), 6) AS share
        |FROM r WHERE rank <= 3""".stripMargin),
    // nearest following assistant via the reversed-order IGNORE NULLS
    // carry; quantile_cont over long µs = the q54 percentile guarantee
    "q71_response_latency" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, turn_idx, role, EPOCH_US(ts) AS us
        |  FROM transcripts WHERE ts IS NOT NULL AND turn_idx IS NOT NULL),
        |n AS (
        |  SELECT conv_id, role, us,
        |    LAST_VALUE(CASE WHEN role = 'assistant' THEN us END IGNORE NULLS)
        |      OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nx
        |  FROM b),
        |s AS (
        |  SELECT conv_id, nx - us AS latency_us FROM n
        |  WHERE role = 'user' AND nx IS NOT NULL)
        |SELECT conv_id, COUNT(*) AS n_responses,
        |  quantile_cont(latency_us, 0.5) AS latency_p50_us,
        |  quantile_cont(latency_us, 0.95) AS latency_p95_us,
        |  CAST(MAX(latency_us) AS BIGINT) AS latency_max_us
        |FROM s GROUP BY 1""".stripMargin),
    // age in WHOLE days is exact integer division of day-aligned µs
    "q72_cohort_retention" -> Transcripts.oracle(
      """, a AS (
        |  SELECT DISTINCT conv_id,
        |    EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000) + 86400000000)
        |      % 86400000000 AS day_us
        |  FROM transcripts WHERE ts IS NOT NULL),
        |m AS (
        |  SELECT conv_id, day_us,
        |    MIN(day_us) OVER (PARTITION BY conv_id) AS cohort_us
        |  FROM a),
        |g AS (
        |  SELECT MAKE_TIMESTAMP(cohort_us) AS cohort_day,
        |    (day_us - cohort_us) // 86400000000 AS age_days,
        |    COUNT(*) AS active_convs
        |  FROM m GROUP BY 1, 2),
        |s AS (
        |  SELECT cohort_day, age_days, active_convs,
        |    CAST(SUM(CASE WHEN age_days = 0 THEN active_convs END)
        |      OVER (PARTITION BY cohort_day) AS BIGINT) AS cohort_size
        |  FROM g)
        |SELECT cohort_day, age_days, active_convs, cohort_size,
        |  ROUND(CAST(active_convs AS DOUBLE) / CAST(cohort_size AS DOUBLE), 6)
        |    AS retention
        |FROM s""".stripMargin),
    // the shared saxCte keeps q66 and q73 term-for-term identical
    "q73_sax_motifs" -> Transcripts.oracle(
      saxCte +
      """,
        |sym AS (
        |  SELECT conv_id, seg, SYMCASE AS symbol FROM zz),
        |sig AS (
        |  SELECT conv_id, STRING_AGG(symbol, '' ORDER BY seg) AS sax_signature
        |  FROM sym GROUP BY 1)
        |SELECT sax_signature, COUNT(*) AS n_convs,
        |  MIN(conv_id) AS exemplar_conv
        |FROM sig GROUP BY 1""".stripMargin.replace("SYMCASE", saxSymbolCase)),
    // span over observed endpoints; active_days counts observed days
    "q74_conv_lifecycle" -> Transcripts.oracle(
      """SELECT conv_id, COUNT(*) AS n_turns,
        |  MIN(ts) AS first_ts, MAX(ts) AS last_ts,
        |  CAST(MAX(EPOCH_US(ts)) - MIN(EPOCH_US(ts)) AS BIGINT) AS span_us,
        |  COUNT(DISTINCT EPOCH_US(ts)
        |    - ((EPOCH_US(ts) % 86400000000) + 86400000000) % 86400000000)
        |    AS active_days,
        |  ROUND(CAST(COUNT(*) AS DOUBLE)
        |    / CAST(COUNT(DISTINCT EPOCH_US(ts)
        |        - ((EPOCH_US(ts) % 86400000000) + 86400000000) % 86400000000)
        |      AS DOUBLE), 6) AS turns_per_active_day
        |FROM transcripts WHERE ts IS NOT NULL GROUP BY 1""".stripMargin),
    // STRING_SPLIT on single spaces = the q02 token_sum convention
    // (empty fragments from space runs included on both sides)
    "q75_term_topk" -> Transcripts.oracle(
      """, tk AS (
        |  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS term
        |  FROM transcripts WHERE text IS NOT NULL),
        |tc AS (SELECT term, COUNT(*) AS occurrences FROM tk GROUP BY 1),
        |tt AS (SELECT CAST(SUM(occurrences) AS BIGINT) AS total FROM tc),
        |top AS (
        |  SELECT term, occurrences FROM tc
        |  ORDER BY occurrences DESC, term LIMIT 50)
        |SELECT
        |  CAST(ROW_NUMBER() OVER (ORDER BY occurrences DESC, term) AS BIGINT)
        |    AS rank,
        |  term, occurrences,
        |  ROUND(CAST(occurrences AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
        |FROM top, tt""".stripMargin),
    // lift = (tf·corpus_tokens)/(ctf·conv_tokens): exact-long products,
    // ONE division — bit-identical doubles, so the rank order is stable
    // (a log-IDF weight would compare non-correctly-rounded LN outputs)
    "q76_term_lift" -> Transcripts.oracle(
      """, tk AS (
        |  SELECT conv_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
        |  FROM transcripts WHERE text IS NOT NULL),
        |tf AS (SELECT conv_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
        |en AS (
        |  SELECT conv_id, term, tf,
        |    CAST(SUM(tf) OVER (PARTITION BY term) AS BIGINT) AS ctf,
        |    CAST(SUM(tf) OVER (PARTITION BY conv_id) AS BIGINT) AS cv
        |  FROM tf),
        |tt AS (SELECT CAST(SUM(tf) AS BIGINT) AS ct FROM tf),
        |lf AS (
        |  SELECT conv_id, term, tf, ctf,
        |    CAST(tf * ct AS DOUBLE) / CAST(ctf * cv AS DOUBLE) AS lift
        |  FROM en, tt WHERE tf >= 2),
        |rk AS (
        |  SELECT conv_id, term, tf, ctf, lift,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY conv_id
        |      ORDER BY lift DESC, term) AS BIGINT) AS rank
        |  FROM lf)
        |SELECT conv_id, rank, term, tf, ctf, ROUND(lift, 6) AS lift
        |FROM rk WHERE rank <= 5""".stripMargin),
    // the oracle enumerates pairs by self-join (the q67 pattern); the
    // engine by nested array transforms — same sign multiset
    "q77_mann_kendall" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, CAST(turn_idx AS BIGINT) AS x,
        |    CAST(LENGTH(text) AS BIGINT) AS y,
        |    ROW_NUMBER() OVER (PARTITION BY conv_id
        |      ORDER BY turn_idx DESC) AS rd
        |  FROM transcripts WHERE turn_idx IS NOT NULL AND text IS NOT NULL),
        |t AS (SELECT conv_id, x, y FROM b WHERE rd <= 32),
        |p AS (
        |  SELECT a.conv_id,
        |    CASE WHEN c.y > a.y THEN 1 WHEN c.y < a.y THEN -1 ELSE 0 END AS sg
        |  FROM t a JOIN t c ON a.conv_id = c.conv_id AND a.x < c.x),
        |m AS (
        |  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(sg) AS BIGINT) AS s,
        |    CAST(SUM(CASE WHEN sg = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tied_pairs
        |  FROM p GROUP BY 1),
        |n AS (SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1)
        |SELECT m.conv_id, n.n, m.n_pairs, m.tied_pairs, m.s AS mk_s,
        |  ROUND(CAST(m.s AS DOUBLE) / CAST(m.n_pairs AS DOUBLE), 6) AS tau_a,
        |  CASE WHEN m.n_pairs - m.tied_pairs > 0 THEN
        |    ROUND(CAST(m.s AS DOUBLE) /
        |      SQRT(CAST(m.n_pairs * (m.n_pairs - m.tied_pairs) AS DOUBLE)), 6)
        |  END AS tau_b
        |FROM m JOIN n ON m.conv_id = n.conv_id""".stripMargin),
    // D_k = n·prefix_k − k·Σy and n·Σy² − (Σy)² are exact integers
    // (BIGINT / HUGEINT) in both engines; rs is one sqrt + one division
    "q78_rescaled_range" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, CAST(LENGTH(text) AS BIGINT) AS y,
        |    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn,
        |    CAST(SUM(CAST(LENGTH(text) AS BIGINT)) OVER (
        |      PARTITION BY conv_id ORDER BY turn_idx
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c,
        |    COUNT(*) OVER (PARTITION BY conv_id) AS n,
        |    CAST(SUM(CAST(LENGTH(text) AS BIGINT)) OVER (
        |      PARTITION BY conv_id) AS BIGINT) AS s,
        |    SUM(CAST(LENGTH(text) AS BIGINT) * CAST(LENGTH(text) AS BIGINT))
        |      OVER (PARTITION BY conv_id) AS ss
        |  FROM transcripts WHERE turn_idx IS NOT NULL AND text IS NOT NULL),
        |d AS (SELECT conv_id, n * c - rn * s AS dev, n, s, ss FROM b),
        |g AS (
        |  SELECT conv_id, MIN(n) AS n,
        |    CAST(MAX(dev) - MIN(dev) AS BIGINT) AS range_num,
        |    MIN(n) * MIN(ss) - CAST(MIN(s) AS HUGEINT) * MIN(s) AS var_num
        |  FROM d GROUP BY 1)
        |SELECT conv_id, n, range_num,
        |  CASE WHEN var_num > 0 THEN
        |    ROUND(CAST(range_num AS DOUBLE) / SQRT(CAST(var_num AS DOUBLE)), 6)
        |  END AS rs_stat
        |FROM g""".stripMargin),
    // competition rank within the day; the single-conv-day pct pin is
    // part of the contract (the (n−1) denominator is undefined there)
    "q79_day_activity_rank" -> Transcripts.oracle(
      """, d AS (
        |  SELECT conv_id,
        |    EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000 AS day_us
        |  FROM transcripts WHERE ts IS NOT NULL),
        |c AS (
        |  SELECT conv_id, MAKE_TIMESTAMP(day_us) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS turn_count
        |  FROM d GROUP BY 1, 2),
        |r AS (
        |  SELECT day, conv_id, turn_count,
        |    CAST(COUNT(*) OVER (PARTITION BY day) AS BIGINT) AS day_convs,
        |    CAST(RANK() OVER (PARTITION BY day
        |      ORDER BY turn_count DESC) AS BIGINT) AS rank
        |  FROM c)
        |SELECT day, conv_id, turn_count, day_convs, rank,
        |  CASE WHEN day_convs = 1 THEN 0.0
        |    ELSE ROUND(CAST(rank - 1 AS DOUBLE)
        |      / CAST(day_convs - 1 AS DOUBLE), 6) END AS pct
        |FROM r""".stripMargin),
    // zero-filled day grid so every pair sees the same n_days; integer
    // moments (HUGEINT product sums = the engine's decimal(38,0)),
    // each cast to double ONCE, Pearson shape mirrored operand-for-operand
    "q80_tool_pair_corr" -> Transcripts.oracle(
      """, cs AS (
        |  SELECT MAKE_TIMESTAMP(EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) AS day,
        |    tool, CAST(COUNT(*) AS BIGINT) AS calls
        |  FROM transcripts WHERE ts IS NOT NULL AND tool IS NOT NULL
        |  GROUP BY 1, 2),
        |dy AS (SELECT DISTINCT day FROM cs),
        |tl AS (SELECT DISTINCT tool FROM cs),
        |gr AS (
        |  SELECT dy.day, tl.tool, COALESCE(cs.calls, 0) AS calls
        |  FROM dy CROSS JOIN tl
        |  LEFT JOIN cs ON cs.day = dy.day AND cs.tool = tl.tool),
        |m AS (
        |  SELECT a.tool AS tool_a, b.tool AS tool_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(a.calls) AS BIGINT) AS sx,
        |    CAST(SUM(b.calls) AS BIGINT) AS sy,
        |    SUM(a.calls * b.calls) AS sxy,
        |    SUM(a.calls * a.calls) AS sxx,
        |    SUM(b.calls * b.calls) AS syy
        |  FROM gr a JOIN gr b ON a.day = b.day AND a.tool < b.tool
        |  GROUP BY 1, 2)
        |SELECT tool_a, tool_b, n_days,
        |  CASE WHEN n_days >= 3
        |    AND CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |    AND CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
        |  THEN ROUND((CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / SQRT((CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |  END AS corr
        |FROM m""".stripMargin),
    // D_k is the q78 deviation; gains tie-break to the SMALLEST k
    "q81_binary_split" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id,
        |    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn,
        |    CAST(SUM(CAST(LENGTH(text) AS BIGINT)) OVER (
        |      PARTITION BY conv_id ORDER BY turn_idx
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c,
        |    COUNT(*) OVER (PARTITION BY conv_id) AS n,
        |    CAST(SUM(CAST(LENGTH(text) AS BIGINT)) OVER (
        |      PARTITION BY conv_id) AS BIGINT) AS s
        |  FROM transcripts WHERE turn_idx IS NOT NULL AND text IS NOT NULL),
        |d AS (
        |  SELECT conv_id, n, rn, c, s,
        |    (CAST(n * c - rn * s AS DOUBLE) * CAST(n * c - rn * s AS DOUBLE))
        |      / (CAST(rn * (n - rn) AS DOUBLE) * CAST(n AS DOUBLE)) AS gain
        |  FROM b WHERE rn < n),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id
        |    ORDER BY gain DESC, rn) AS rk FROM d)
        |SELECT conv_id, n, rn AS split_k,
        |  ROUND(CAST(c AS DOUBLE) / CAST(rn AS DOUBLE), 6) AS mean_left,
        |  ROUND(CAST(s - c AS DOUBLE) / CAST(n - rn AS DOUBLE), 6)
        |    AS mean_right,
        |  ROUND(gain, 6) AS sse_gain
        |FROM r WHERE rk = 1""".stripMargin),
    // single-call keys keep their row: aggregates skip the NULL lead
    "q82_tool_cadence" -> Transcripts.oracle(
      """, g AS (
        |  SELECT conv_id, tool, ts,
        |    LEAD(EPOCH_US(ts)) OVER (PARTITION BY conv_id, tool
        |      ORDER BY ts, turn_idx) - EPOCH_US(ts) AS gap_us
        |  FROM transcripts
        |  WHERE ts IS NOT NULL AND tool IS NOT NULL AND turn_idx IS NOT NULL)
        |SELECT conv_id, tool, CAST(COUNT(*) AS BIGINT) AS n_calls,
        |  MIN(ts) AS first_call, MAX(ts) AS last_call,
        |  quantile_cont(gap_us, 0.5) AS gap_p50_us,
        |  quantile_cont(gap_us, 0.95) AS gap_p95_us,
        |  CAST(MAX(gap_us) AS BIGINT) AS gap_max_us
        |FROM g GROUP BY 1, 2""".stripMargin),
    // first-seen census + first-flag cumsum over the day series
    "q83_term_vocab_growth" -> Transcripts.oracle(
      """, ce AS (
        |  SELECT MAKE_TIMESTAMP(EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) AS day,
        |    UNNEST(STRING_SPLIT(text, ' ')) AS term
        |  FROM transcripts WHERE ts IS NOT NULL AND text IS NOT NULL),
        |cs AS (SELECT day, term, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM ce GROUP BY 1, 2),
        |pd AS (
        |  SELECT day, CAST(SUM(cnt) AS BIGINT) AS day_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS distinct_terms
        |  FROM cs GROUP BY 1),
        |fs AS (SELECT MIN(day) AS day FROM cs GROUP BY term),
        |nf AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS new_terms
        |  FROM fs GROUP BY 1)
        |SELECT pd.day, pd.day_tokens, pd.distinct_terms,
        |  COALESCE(nf.new_terms, 0) AS new_terms,
        |  CAST(SUM(COALESCE(nf.new_terms, 0)) OVER (ORDER BY pd.day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
        |FROM pd LEFT JOIN nf ON pd.day = nf.day""".stripMargin),
    // exact daily cardinality; COUNT(DISTINCT) skips NULL tool in both
    // engines (the no-call marker is not a tool). q85 (the HLL++
    // estimate) is rows-only by design — its error bound is pinned
    // against THIS query in SeriesOpsSpec.
    "q84_daily_cardinality" -> Transcripts.oracle(
      """SELECT MAKE_TIMESTAMP(EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |    + 86400000000) % 86400000000) AS day,
        |  CAST(COUNT(*) AS BIGINT) AS turns,
        |  CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS distinct_convs,
        |  CAST(COUNT(DISTINCT tool) AS BIGINT) AS distinct_tools
        |FROM transcripts WHERE ts IS NOT NULL
        |GROUP BY 1""".stripMargin),
    // zero-filled day grid (a silent day is a real 0), HUGEINT product
    // sums = the engine's decimal(38,0), Pearson mirrored
    // operand-for-operand, n>=3 + positive-variance gate
    "q86_daily_autocorr" -> Transcripts.oracle(
      """, d AS (
        |  SELECT MAKE_TIMESTAMP(EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) AS day
        |  FROM transcripts WHERE ts IS NOT NULL),
        |c AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS turns FROM d GROUP BY 1),
        |g AS (
        |  SELECT UNNEST(generate_series((SELECT MIN(day) FROM c),
        |    (SELECT MAX(day) FROM c), INTERVAL 1 DAY)) AS day),
        |z AS (
        |  SELECT g.day, COALESCE(c.turns, 0) AS turns,
        |    ROW_NUMBER() OVER (ORDER BY g.day) AS idx
        |  FROM g LEFT JOIN c ON g.day = c.day),
        |l AS (
        |  SELECT lg.lag, a.turns AS x, b.turns AS y
        |  FROM z a
        |  CROSS JOIN (SELECT UNNEST(generate_series(1, 14)) AS lag) lg
        |  JOIN z b ON b.idx = a.idx + lg.lag),
        |m AS (
        |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM l GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        |  CASE WHEN n_pairs >= 3
        |    AND CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |    AND CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
        |  THEN ROUND((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / SQRT((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |  END AS corr
        |FROM m""".stripMargin),
    // contiguous day range (lag arithmetic must not splice holes),
    // absolute-day-number index, ordered pairs, HUGEINT moments,
    // operand-mirrored Pearson
    "q87_tool_lead_lag" -> Transcripts.oracle(
      """, cs AS (
        |  SELECT MAKE_TIMESTAMP(EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) AS day,
        |    tool, CAST(COUNT(*) AS BIGINT) AS calls
        |  FROM transcripts WHERE ts IS NOT NULL AND tool IS NOT NULL
        |  GROUP BY 1, 2),
        |dy AS (
        |  SELECT UNNEST(generate_series((SELECT MIN(day) FROM cs),
        |    (SELECT MAX(day) FROM cs), INTERVAL 1 DAY)) AS day),
        |tl AS (SELECT DISTINCT tool FROM cs),
        |gr AS (
        |  SELECT EPOCH_US(dy.day) // 86400000000 AS idx, tl.tool,
        |    COALESCE(cs.calls, 0) AS calls
        |  FROM dy CROSS JOIN tl
        |  LEFT JOIN cs ON cs.day = dy.day AND cs.tool = tl.tool),
        |l AS (
        |  SELECT a.tool AS tool_a, b.tool AS tool_b, lg.lag,
        |    a.calls AS x, b.calls AS y
        |  FROM gr a
        |  CROSS JOIN (SELECT UNNEST(generate_series(1, 7)) AS lag) lg
        |  JOIN gr b ON b.idx = a.idx + lg.lag
        |  WHERE a.tool <> b.tool),
        |m AS (
        |  SELECT tool_a, tool_b, lag, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM l GROUP BY 1, 2, 3)
        |SELECT tool_a, tool_b, CAST(lag AS BIGINT) AS lag, n_days,
        |  CASE WHEN n_days >= 3
        |    AND CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |    AND CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
        |  THEN ROUND((CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / SQRT((CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |  END AS corr
        |FROM m""".stripMargin),
    // rank-formula Gini over the (day, conv) census; HUGEINT precast
    // on the rank*count product, ONE double division mirrored
    // operand-for-operand, round 6. Rank ties share x so the value is
    // permutation-invariant; the conv_id tiebreak is determinism only.
    "q88_daily_gini" -> Transcripts.oracle(
      """, c AS (
        |  SELECT MAKE_TIMESTAMP(EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) AS day,
        |    conv_id, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM transcripts WHERE ts IS NOT NULL AND conv_id IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT day, x,
        |    ROW_NUMBER() OVER (PARTITION BY day ORDER BY x, conv_id) AS r
        |  FROM c),
        |m AS (
        |  SELECT day, CAST(COUNT(*) AS BIGINT) AS convs,
        |    CAST(SUM(x) AS BIGINT) AS turns,
        |    SUM(CAST(r AS HUGEINT) * x) AS srx
        |  FROM r GROUP BY 1)
        |SELECT day, convs, turns,
        |  ROUND((2.0 * CAST(srx AS DOUBLE)
        |      - CAST(convs + 1 AS DOUBLE) * CAST(turns AS DOUBLE))
        |    / (CAST(convs AS DOUBLE) * CAST(turns AS DOUBLE)), 6) AS gini
        |FROM m""".stripMargin),
    // exact-long histogram + suffix-cumulative survivors; conversation
    // length counts ALL rows (null ts/text is still a turn)
    "q89_survival_curve" -> Transcripts.oracle(
      """, pc AS (
        |  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns
        |  FROM transcripts WHERE conv_id IS NOT NULL GROUP BY 1),
        |h AS (
        |  SELECT n_turns, CAST(COUNT(*) AS BIGINT) AS convs_at
        |  FROM pc GROUP BY 1),
        |s AS (
        |  SELECT n_turns, convs_at,
        |    CAST(SUM(convs_at) OVER (ORDER BY n_turns DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS surviving,
        |    CAST(SUM(convs_at) OVER () AS BIGINT) AS total
        |  FROM h)
        |SELECT n_turns, convs_at, surviving,
        |  ROUND(CAST(surviving AS DOUBLE) / CAST(total AS DOUBLE), 6)
        |    AS survival_frac
        |FROM s""".stripMargin),
    // gaps-and-islands: day_num - ROW_NUMBER group key over the
    // distinct (conv, day) census; every output an exact long
    "q90_active_streaks" -> Transcripts.oracle(
      """, dd AS (
        |  SELECT DISTINCT conv_id,
        |    (EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) // 86400000000 AS day_num
        |  FROM transcripts WHERE ts IS NOT NULL AND conv_id IS NOT NULL),
        |g AS (
        |  SELECT conv_id, day_num,
        |    day_num - ROW_NUMBER() OVER (PARTITION BY conv_id
        |      ORDER BY day_num) AS grp
        |  FROM dd),
        |r AS (
        |  SELECT conv_id, grp, CAST(COUNT(*) AS BIGINT) AS len,
        |    MIN(day_num) AS d0, MAX(day_num) AS d1
        |  FROM g GROUP BY 1, 2)
        |SELECT conv_id, CAST(SUM(len) AS BIGINT) AS active_days,
        |  CAST(COUNT(*) AS BIGINT) AS n_streaks,
        |  MAX(len) AS longest_streak,
        |  CAST(MAX(d1) - MIN(d0) + 1 AS BIGINT) AS span_days
        |FROM r GROUP BY 1""".stripMargin),
    // first-seen = min active day per conv over the distinct census;
    // cumulative = running sum of new counts over the day series
    "q91_new_vs_returning" -> Transcripts.oracle(
      """, a AS (
        |  SELECT DISTINCT conv_id,
        |    MAKE_TIMESTAMP(EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) AS day
        |  FROM transcripts WHERE ts IS NOT NULL AND conv_id IS NOT NULL),
        |f AS (
        |  SELECT conv_id, day,
        |    day = MIN(day) OVER (PARTITION BY conv_id) AS first
        |  FROM a),
        |d AS (
        |  SELECT day, CAST(COUNT(*) AS BIGINT) AS active_convs,
        |    CAST(SUM(CASE WHEN first THEN 1 ELSE 0 END) AS BIGINT) AS new_convs
        |  FROM f GROUP BY 1)
        |SELECT day, active_convs, new_convs,
        |  active_convs - new_convs AS returning_convs,
        |  CAST(SUM(new_convs) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_convs
        |FROM d""".stripMargin),
    // min first-use day per (conv, tool), then per-tool running sums
    "q92_tool_adoption" -> Transcripts.oracle(
      """, fu AS (
        |  SELECT conv_id, tool,
        |    MIN(MAKE_TIMESTAMP(EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000)) AS day
        |  FROM transcripts
        |  WHERE ts IS NOT NULL AND conv_id IS NOT NULL AND tool IS NOT NULL
        |  GROUP BY 1, 2),
        |ad AS (
        |  SELECT tool, day, CAST(COUNT(*) AS BIGINT) AS new_convs
        |  FROM fu GROUP BY 1, 2)
        |SELECT tool, day, new_convs,
        |  CAST(SUM(new_convs) OVER (PARTITION BY tool ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_convs
        |FROM ad""".stripMargin),
    // md5 identity mirrored term-for-term (both engines' md5 agrees);
    // null text drops from duplication accounting
    "q93_daily_dup_rate" -> Transcripts.oracle(
      """, c AS (
        |  SELECT MAKE_TIMESTAMP(EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) AS day,
        |    MD5(text) AS h, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM transcripts WHERE ts IS NOT NULL AND text IS NOT NULL
        |  GROUP BY 1, 2),
        |d AS (
        |  SELECT day, CAST(SUM(c) AS BIGINT) AS text_turns,
        |    CAST(COUNT(*) AS BIGINT) AS distinct_texts,
        |    CAST(SUM(c) - COUNT(*) AS BIGINT) AS dup_turns,
        |    MAX(c) AS max_clone
        |  FROM c GROUP BY 1)
        |SELECT day, text_turns, distinct_texts, dup_turns, max_clone,
        |  ROUND(CAST(dup_turns AS DOUBLE) / CAST(text_turns AS DOUBLE), 6)
        |    AS dup_rate
        |FROM d""".stripMargin),
    // Fano factor over the calendar span with silent days entering
    // analytically: F = (D*sum(c^2) - S^2)/(D*S); HUGEINT precast on
    // c*c, fixed-shape double expression, round 6
    "q94_conv_burstiness" -> Transcripts.oracle(
      """, c AS (
        |  SELECT conv_id,
        |    (EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) // 86400000000 AS day_num,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM transcripts WHERE ts IS NOT NULL AND conv_id IS NOT NULL
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS active_days,
        |    CAST(MAX(day_num) - MIN(day_num) + 1 AS BIGINT) AS span_days,
        |    CAST(SUM(c) AS BIGINT) AS turns,
        |    SUM(CAST(c AS HUGEINT) * c) AS scc
        |  FROM c GROUP BY 1)
        |SELECT conv_id, span_days, active_days, turns,
        |  ROUND((CAST(span_days AS DOUBLE) * CAST(scc AS DOUBLE)
        |      - CAST(turns AS DOUBLE) * CAST(turns AS DOUBLE))
        |    / (CAST(span_days AS DOUBLE) * CAST(turns AS DOUBLE)), 6) AS fano
        |FROM m""".stripMargin),
    // integer crossing test 2*cum >= total (no midpoint division);
    // order by the canonical unique turn_idx
    "q95_char_half_life" -> Transcripts.oracle(
      """, t AS (
        |  SELECT conv_id, turn_idx, CAST(LENGTH(text) AS BIGINT) AS len
        |  FROM transcripts
        |  WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
        |    AND text IS NOT NULL),
        |w AS (
        |  SELECT conv_id,
        |    CAST(SUM(len) OVER (PARTITION BY conv_id ORDER BY turn_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx)
        |      AS pos,
        |    CAST(COUNT(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n,
        |    CAST(SUM(len) OVER (PARTITION BY conv_id) AS BIGINT) AS total
        |  FROM t),
        |h AS (
        |  SELECT conv_id, MAX(n) AS n_turns, MAX(total) AS total_chars,
        |    CAST(MIN(pos) AS BIGINT) AS half_pos
        |  FROM w WHERE cum * 2 >= total GROUP BY 1)
        |SELECT conv_id, n_turns, total_chars, half_pos,
        |  ROUND(CAST(half_pos AS DOUBLE) / CAST(n_turns AS DOUBLE), 6)
        |    AS half_frac
        |FROM h""".stripMargin),
    // total order (turns DESC, conv_id ASC) cutoff at k=3; day total
    // from the same day clustering
    "q96_whale_convs" -> Transcripts.oracle(
      """, c AS (
        |  SELECT MAKE_TIMESTAMP(EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) AS day,
        |    conv_id, CAST(COUNT(*) AS BIGINT) AS turns
        |  FROM transcripts WHERE ts IS NOT NULL AND conv_id IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT day, conv_id, turns,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY day
        |      ORDER BY turns DESC, conv_id) AS BIGINT) AS rank,
        |    CAST(SUM(turns) OVER (PARTITION BY day) AS BIGINT) AS day_turns
        |  FROM c)
        |SELECT day, rank, conv_id, turns, day_turns,
        |  ROUND(CAST(turns AS DOUBLE) / CAST(day_turns AS DOUBLE), 6) AS share
        |FROM r WHERE rank <= 3""".stripMargin),
    // sweep-line collapsed to day grain: open(d) = cum_opened(d)
    // − cum_closed(d−1); the RANGE grid mirrors sequence(lo, hi)
    "q97_conv_concurrency" -> Transcripts.oracle(
      """, sp AS (
        |  SELECT conv_id,
        |    MIN((EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) // 86400000000) AS d0,
        |    MAX((EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) // 86400000000) AS d1
        |  FROM transcripts WHERE ts IS NOT NULL AND conv_id IS NOT NULL
        |  GROUP BY 1),
        |o AS (SELECT d0 AS day_num, CAST(COUNT(*) AS BIGINT) AS opened
        |  FROM sp GROUP BY 1),
        |c AS (SELECT d1 AS day_num, CAST(COUNT(*) AS BIGINT) AS closed
        |  FROM sp GROUP BY 1),
        |g AS (SELECT UNNEST(RANGE((SELECT MIN(d0) FROM sp),
        |  (SELECT MAX(d1) FROM sp) + 1)) AS day_num),
        |m AS (
        |  SELECT g.day_num, COALESCE(o.opened, 0) AS opened,
        |    COALESCE(c.closed, 0) AS closed
        |  FROM g LEFT JOIN o USING (day_num) LEFT JOIN c USING (day_num))
        |SELECT MAKE_TIMESTAMP(day_num * 86400000000) AS day, opened, closed,
        |  CAST(SUM(opened) OVER w - SUM(closed) OVER w + closed AS BIGINT)
        |    AS open_convs
        |FROM m WINDOW w AS (ORDER BY day_num
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),
    // consecutive OBSERVED tool-active days via LAG; intersection via
    // the two-sided census join, sizes via the day frame
    "q98_toolset_churn" -> Transcripts.oracle(
      """, cs AS (
        |  SELECT DISTINCT (EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) // 86400000000 AS day_num,
        |    tool
        |  FROM transcripts WHERE ts IS NOT NULL AND tool IS NOT NULL),
        |sz AS (SELECT day_num, CAST(COUNT(*) AS BIGINT) AS cur_tools
        |  FROM cs GROUP BY 1),
        |d AS (
        |  SELECT day_num, cur_tools,
        |    LAG(day_num) OVER (ORDER BY day_num) AS prev_day_num
        |  FROM sz QUALIFY prev_day_num IS NOT NULL),
        |kp AS (
        |  SELECT d.day_num, CAST(COUNT(*) AS BIGINT) AS kept
        |  FROM d JOIN cs a ON a.day_num = d.day_num
        |         JOIN cs b ON b.day_num = d.prev_day_num AND b.tool = a.tool
        |  GROUP BY 1)
        |SELECT MAKE_TIMESTAMP(d.day_num * 86400000000) AS day,
        |  MAKE_TIMESTAMP(d.prev_day_num * 86400000000) AS prev_day,
        |  d.cur_tools, p.cur_tools AS prev_tools,
        |  COALESCE(kp.kept, 0) AS kept,
        |  d.cur_tools - COALESCE(kp.kept, 0) AS added,
        |  p.cur_tools - COALESCE(kp.kept, 0) AS dropped,
        |  ROUND(CAST(COALESCE(kp.kept, 0) AS DOUBLE)
        |    / CAST(d.cur_tools + p.cur_tools - COALESCE(kp.kept, 0)
        |      AS DOUBLE), 6) AS jaccard
        |FROM d JOIN sz p ON p.day_num = d.prev_day_num
        |LEFT JOIN kp ON kp.day_num = d.day_num""".stripMargin),
    // running pre-day max, 0/1 record flag, cumulative record count,
    // and days since the latest record (0 on record days)
    "q99_record_days" -> Transcripts.oracle(
      """, dd AS (
        |  SELECT (EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) // 86400000000 AS day_num,
        |    CAST(COUNT(*) AS BIGINT) AS turns
        |  FROM transcripts WHERE ts IS NOT NULL GROUP BY 1),
        |r AS (
        |  SELECT day_num, turns,
        |    MAX(turns) OVER (ORDER BY day_num
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM dd),
        |f AS (
        |  SELECT day_num, turns, prev_max,
        |    CAST(CASE WHEN prev_max IS NULL OR turns > prev_max
        |      THEN 1 ELSE 0 END AS BIGINT) AS is_record
        |  FROM r)
        |SELECT MAKE_TIMESTAMP(day_num * 86400000000) AS day, turns,
        |  prev_max, is_record,
        |  CAST(SUM(is_record) OVER w AS BIGINT) AS record_no,
        |  day_num - MAX(CASE WHEN is_record = 1 THEN day_num END) OVER w
        |    AS days_since_record
        |FROM f WINDOW w AS (ORDER BY day_num
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),
    // NTILE over (turns ASC, conv_id ASC) — the SQL-standard split,
    // identical tile sizing in both engines
    "q100_lorenz_deciles" -> Transcripts.oracle(
      """, c AS (
        |  SELECT MAKE_TIMESTAMP(EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) AS day,
        |    conv_id, CAST(COUNT(*) AS BIGINT) AS turns
        |  FROM transcripts WHERE ts IS NOT NULL AND conv_id IS NOT NULL
        |  GROUP BY 1, 2),
        |t AS (
        |  SELECT day, turns,
        |    CAST(NTILE(10) OVER (PARTITION BY day
        |      ORDER BY turns, conv_id) AS BIGINT) AS decile
        |  FROM c),
        |g AS (
        |  SELECT day, decile, CAST(COUNT(*) AS BIGINT) AS convs,
        |    CAST(SUM(turns) AS BIGINT) AS decile_turns
        |  FROM t GROUP BY 1, 2)
        |SELECT day, decile, convs, decile_turns,
        |  CAST(SUM(decile_turns) OVER (PARTITION BY day) AS BIGINT)
        |    AS day_turns,
        |  CAST(SUM(decile_turns) OVER (PARTITION BY day ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_turns,
        |  ROUND(CAST(SUM(decile_turns) OVER (PARTITION BY day ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(SUM(decile_turns) OVER (PARTITION BY day) AS DOUBLE), 6)
        |    AS cum_share
        |FROM g""".stripMargin),
    // exact HUGEINT cross-multiplied CDF gaps on the dense day×bucket
    // grid, ONE double division per distance (mirrors the decimal
    // precast operand-for-operand)
    "q101_dist_drift" -> Transcripts.oracle(
      """, cs AS (
        |  SELECT (EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) // 86400000000 AS day_num,
        |    CAST(LENGTH(CAST(LENGTH(text) AS VARCHAR)) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM transcripts WHERE ts IS NOT NULL AND text IS NOT NULL
        |  GROUP BY 1, 2),
        |g AS (
        |  SELECT d.day_num, b.bucket, COALESCE(cs.c, 0) AS c
        |  FROM (SELECT DISTINCT day_num FROM cs) d
        |  CROSS JOIN (SELECT DISTINCT bucket FROM cs) b
        |  LEFT JOIN cs ON cs.day_num = d.day_num AND cs.bucket = b.bucket),
        |w AS (
        |  SELECT day_num, bucket, c,
        |    SUM(c) OVER (PARTITION BY day_num ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY day_num) AS n
        |  FROM g),
        |p AS (
        |  SELECT day_num, bucket, c, cum, n,
        |    LAG(c) OVER wb AS pc, LAG(cum) OVER wb AS pcum,
        |    LAG(n) OVER wb AS pn, LAG(day_num) OVER wb AS pday
        |  FROM w WINDOW wb AS (PARTITION BY bucket ORDER BY day_num)
        |  QUALIFY pday IS NOT NULL),
        |a AS (
        |  SELECT day_num, MAX(pday) AS prev_day,
        |    CAST(MAX(n) AS BIGINT) AS day_texts,
        |    CAST(MAX(pn) AS BIGINT) AS prev_texts,
        |    MAX(ABS(CAST(cum AS HUGEINT) * pn - CAST(pcum AS HUGEINT) * n))
        |      AS ks_num,
        |    SUM(ABS(CAST(c AS HUGEINT) * pn - CAST(pc AS HUGEINT) * n))
        |      AS tv_num
        |  FROM p GROUP BY 1)
        |SELECT MAKE_TIMESTAMP(day_num * 86400000000) AS day,
        |  MAKE_TIMESTAMP(prev_day * 86400000000) AS prev_day,
        |  day_texts, prev_texts,
        |  ROUND(CAST(ks_num AS DOUBLE)
        |    / (CAST(day_texts AS DOUBLE) * CAST(prev_texts AS DOUBLE)), 6)
        |    AS ks_stat,
        |  ROUND(CAST(tv_num AS DOUBLE)
        |    / (2.0 * CAST(day_texts AS DOUBLE) * CAST(prev_texts AS DOUBLE)),
        |    6) AS tv_dist
        |FROM a""".stripMargin),
    // top-k cutoff (count DESC, term ASC) via QUALIFY; the churn set
    // algebra mirrors the toolset-churn join form
    "q102_term_churn" -> Transcripts.oracle(
      """, tk AS (
        |  SELECT (EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) // 86400000000 AS day_num,
        |    UNNEST(STRING_SPLIT(text, ' ')) AS term
        |  FROM transcripts WHERE ts IS NOT NULL AND text IS NOT NULL),
        |cs AS (SELECT day_num, term, COUNT(*) AS c FROM tk GROUP BY 1, 2),
        |top AS (
        |  SELECT day_num, term FROM cs
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY day_num
        |    ORDER BY c DESC, term) <= 50),
        |sz AS (SELECT day_num, CAST(COUNT(*) AS BIGINT) AS n_terms
        |  FROM top GROUP BY 1),
        |d AS (
        |  SELECT day_num, n_terms,
        |    LAG(day_num) OVER (ORDER BY day_num) AS prev_day_num
        |  FROM sz QUALIFY prev_day_num IS NOT NULL),
        |kp AS (
        |  SELECT d.day_num, CAST(COUNT(*) AS BIGINT) AS kept
        |  FROM d JOIN top a ON a.day_num = d.day_num
        |         JOIN top b ON b.day_num = d.prev_day_num AND b.term = a.term
        |  GROUP BY 1)
        |SELECT MAKE_TIMESTAMP(d.day_num * 86400000000) AS day,
        |  MAKE_TIMESTAMP(d.prev_day_num * 86400000000) AS prev_day,
        |  d.n_terms AS cur_terms, p.n_terms AS prev_terms,
        |  COALESCE(kp.kept, 0) AS kept,
        |  d.n_terms - COALESCE(kp.kept, 0) AS added,
        |  p.n_terms - COALESCE(kp.kept, 0) AS dropped,
        |  ROUND(CAST(COALESCE(kp.kept, 0) AS DOUBLE)
        |    / CAST(d.n_terms + p.n_terms - COALESCE(kp.kept, 0) AS DOUBLE),
        |    6) AS jaccard
        |FROM d JOIN sz p ON p.day_num = d.prev_day_num
        |LEFT JOIN kp ON kp.day_num = d.day_num""".stripMargin),
    // exact counts; the two divisions have denominators >= 1 whenever
    // the day row exists
    "q103_type_token_ratio" -> Transcripts.oracle(
      """, tk AS (
        |  SELECT (EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) // 86400000000 AS day_num,
        |    UNNEST(STRING_SPLIT(text, ' ')) AS term
        |  FROM transcripts WHERE ts IS NOT NULL AND text IS NOT NULL),
        |cs AS (SELECT day_num, term, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tk GROUP BY 1, 2),
        |d AS (
        |  SELECT day_num, CAST(SUM(c) AS BIGINT) AS tokens,
        |    CAST(COUNT(*) AS BIGINT) AS distinct_terms,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS hapax_terms
        |  FROM cs GROUP BY 1)
        |SELECT MAKE_TIMESTAMP(day_num * 86400000000) AS day, tokens,
        |  distinct_terms, hapax_terms,
        |  ROUND(CAST(distinct_terms AS DOUBLE) / CAST(tokens AS DOUBLE), 6)
        |    AS ttr,
        |  ROUND(CAST(hapax_terms AS DOUBLE) / CAST(distinct_terms AS DOUBLE),
        |    6) AS hapax_share
        |FROM d""".stripMargin),
    "q104_daily_len_histogram" -> Transcripts.oracle(
      """SELECT MAKE_TIMESTAMP(EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |    + 86400000000) % 86400000000) AS day,
        |  CAST(LENGTH(CAST(LENGTH(text) AS VARCHAR)) AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM transcripts WHERE ts IS NOT NULL AND text IS NOT NULL
        |GROUP BY 1, 2""".stripMargin),
    // the canonical shingle unit: 3-word grams, short texts collapse
    // to one whole-text shingle, 28-bit md5-prefix hash
    "q105_shingle_novelty" -> Transcripts.oracle(
      """, sg AS (
        |  SELECT (EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) // 86400000000 AS day_num,
        |    CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
        |         ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
        |                i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))
        |    END AS sh
        |  FROM transcripts WHERE ts IS NOT NULL AND text IS NOT NULL),
        |tk AS (
        |  SELECT day_num,
        |    UNNEST(list_transform(sh,
        |      s -> CAST('0x' || substr(md5(s), 1, 7) AS BIGINT))) AS h
        |  FROM sg),
        |cs AS (SELECT day_num, h, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tk GROUP BY 1, 2),
        |f AS (SELECT day_num, h, c,
        |    MIN(day_num) OVER (PARTITION BY h) AS first
        |  FROM cs),
        |d AS (
        |  SELECT day_num,
        |    CAST(SUM(c) AS BIGINT) AS shingle_occ,
        |    CAST(COUNT(*) AS BIGINT) AS distinct_shingles,
        |    CAST(SUM(CASE WHEN first = day_num THEN 1 ELSE 0 END) AS BIGINT)
        |      AS new_shingles,
        |    CAST(SUM(CASE WHEN first = day_num THEN c ELSE 0 END) AS BIGINT)
        |      AS new_occ
        |  FROM f GROUP BY 1)
        |SELECT MAKE_TIMESTAMP(day_num * 86400000000) AS day, shingle_occ,
        |  distinct_shingles, new_shingles, new_occ,
        |  ROUND(CAST(new_shingles AS DOUBLE)
        |    / CAST(distinct_shingles AS DOUBLE), 6) AS novelty_rate,
        |  ROUND(CAST(new_occ AS DOUBLE) / CAST(shingle_occ AS DOUBLE), 6)
        |    AS occ_novelty_rate
        |FROM d""".stripMargin),
    // the scaled-integer triangle algebra term-for-term in HUGEINT:
    // neighbor x-sums rebased to this bucket, area2*np*nn^2 =
    // |A*B - C*D|; argmax ties break on smallest event_id; endpoint
    // rows mirror the first/last union (a single-sample user is both)
    "q106_lttb_downsample" ->
      """WITH p AS (
        |  SELECT user_id, event_id, ts, value,
        |    DATE_TRUNC('hour', ts) AS window_start,
        |    CAST(EPOCH_US(ts) - EPOCH_US(DATE_TRUNC('hour', ts)) AS HUGEINT)
        |      AS xr,
        |    CAST(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS HUGEINT)
        |      AS yc
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |c AS (
        |  SELECT user_id, window_start, CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(xr) AS sx, SUM(yc) AS sy
        |  FROM p GROUP BY 1, 2),
        |nb AS (
        |  SELECT user_id, window_start,
        |    LAG(window_start) OVER w AS tp, LAG(n) OVER w AS np,
        |    LAG(sx) OVER w AS sxp, LAG(sy) OVER w AS syp,
        |    LEAD(window_start) OVER w AS tn, LEAD(n) OVER w AS nn,
        |    LEAD(sx) OVER w AS sxn, LEAD(sy) OVER w AS syn
        |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY window_start)),
        |s AS (
        |  SELECT user_id, window_start, event_id, ts, value,
        |    ABS(((sxp + np * (EPOCH_US(tp) - EPOCH_US(window_start))) * nn
        |         - (sxn + nn * (EPOCH_US(tn) - EPOCH_US(window_start))) * np)
        |        * (yc * nn - syn)
        |      - (xr * nn - (sxn + nn * (EPOCH_US(tn) - EPOCH_US(window_start))))
        |        * (syp * nn - syn * np)) AS area2
        |  FROM p JOIN nb USING (user_id, window_start)
        |  WHERE tp IS NOT NULL AND tn IS NOT NULL)
        |SELECT user_id, window_start, 'lttb' AS kind, event_id, ts, value
        |FROM s
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, window_start
        |                           ORDER BY area2 DESC, event_id ASC) = 1
        |UNION ALL
        |SELECT user_id, window_start, 'first' AS kind, event_id, ts, value
        |FROM p
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        |                           ORDER BY ts ASC, event_id ASC) = 1
        |UNION ALL
        |SELECT user_id, window_start, 'last' AS kind, event_id, ts, value
        |FROM p
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) = 1""".stripMargin,
    // rank-in-alphabetical-order char coding (chr ≡ Spark char), turn
    // order via ordered STRING_AGG ≡ the sorted-struct join; both
    // engines' levenshtein is unit-cost Wagner-Fischer
    "q107_tool_seq_edit" -> Transcripts.oracle(
      """, al AS (
        |  SELECT tool, CAST(ROW_NUMBER() OVER (ORDER BY tool) AS INTEGER) AS r
        |  FROM (SELECT DISTINCT tool FROM transcripts WHERE tool IS NOT NULL)),
        |sq AS (
        |  SELECT conv_id, STRING_AGG(chr(32 + r), '' ORDER BY turn_idx) AS seq
        |  FROM transcripts JOIN al USING (tool)
        |  WHERE turn_idx IS NOT NULL AND conv_id IS NOT NULL
        |  GROUP BY 1),
        |tk AS (
        |  SELECT conv_id, seq, CAST(LENGTH(seq) AS BIGINT) AS n
        |  FROM sq ORDER BY n DESC, conv_id ASC LIMIT 8)
        |SELECT a.conv_id AS conv_a, b.conv_id AS conv_b,
        |  a.n AS len_a, b.n AS len_b,
        |  CAST(levenshtein(a.seq, b.seq) AS BIGINT) AS edit_dist
        |FROM tk a JOIN tk b ON a.conv_id < b.conv_id""".stripMargin),
    // the IDENTICAL nested DP fold: DuckDB 1.0's list_reduce has no
    // seed argument, so the init row/column ride in as prepended
    // single-element-list items (acc type = element type); the inf
    // sentinel is compared, never added, in both engines
    "q108_dtw_pairs" -> Transcripts.oracle(
      """, cs AS (
        |  SELECT conv_id, MAKE_TIMESTAMP(EPOCH_US(ts)
        |      - ((EPOCH_US(ts) % 86400000000) + 86400000000) % 86400000000)
        |      AS day,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM transcripts WHERE ts IS NOT NULL AND conv_id IS NOT NULL
        |  GROUP BY 1, 2),
        |sr AS (SELECT conv_id, list(cnt ORDER BY day) AS vals0
        |  FROM cs GROUP BY 1),
        |sl AS (SELECT conv_id,
        |    vals0[greatest(1, len(vals0) - 63):len(vals0)] AS vals
        |  FROM sr),
        |tk AS (
        |  SELECT conv_id, vals, CAST(len(vals) AS BIGINT) AS n,
        |    list_reduce(vals, (s, v) -> s + v) AS total
        |  FROM sl ORDER BY total DESC, conv_id ASC LIMIT 8)
        |SELECT a.conv_id AS conv_a, b.conv_id AS conv_b,
        |  a.n AS n_a, b.n AS n_b,
        |  list_reduce(
        |    list_prepend(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(b.vals,
        |          v -> CAST(2305843009213693951 AS BIGINT))),
        |      list_transform(a.vals, x -> [x])),
        |    (row, xl) -> list_reduce(
        |      list_prepend(CAST([2305843009213693951] AS BIGINT[]),
        |        list_transform(range(1, len(b.vals) + 1),
        |          j -> [CAST(j AS BIGINT)])),
        |      (p, jl) -> list_append(p,
        |        abs(xl[1] - b.vals[jl[1]]) +
        |        least(row[jl[1] + 1], row[jl[1]], p[-1]))))[-1] AS dtw
        |FROM tk a JOIN tk b ON a.conv_id < b.conv_id""".stripMargin),
    // strict row-frame maxima over the observed-day census; a missing
    // side coalesces to 0 (counts are >= 1) in both engines
    "q109_peak_days" -> Transcripts.oracle(
      """, cs AS (
        |  SELECT conv_id, MAKE_TIMESTAMP(EPOCH_US(ts)
        |      - ((EPOCH_US(ts) % 86400000000) + 86400000000) % 86400000000)
        |      AS day,
        |    CAST(COUNT(*) AS BIGINT) AS turn_count
        |  FROM transcripts WHERE ts IS NOT NULL AND conv_id IS NOT NULL
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT *,
        |    MAX(turn_count) OVER (PARTITION BY conv_id ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS l,
        |    MAX(turn_count) OVER (PARTITION BY conv_id ORDER BY day
        |      ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS r
        |  FROM cs)
        |SELECT conv_id, day, turn_count,
        |  turn_count - GREATEST(COALESCE(l, 0), COALESCE(r, 0)) AS prominence
        |FROM w
        |WHERE turn_count > COALESCE(l, 0) AND turn_count > COALESCE(r, 0)"""
        .stripMargin),
    // high-water-mark frame ends at 1 PRECEDING (the first arrival has
    // no mark); quantile_cont over integer µs ≡ percentile (the q18
    // guarantee), over LATE events only — all-on-time days report NULL
    "q110_ooo_skew" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, turn_idx, EPOCH_US(ts) AS us,
        |    MAKE_TIMESTAMP(EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) AS day
        |  FROM transcripts
        |  WHERE ts IS NOT NULL AND conv_id IS NOT NULL
        |    AND turn_idx IS NOT NULL),
        |s AS (
        |  SELECT day, CASE WHEN hwm > us THEN hwm - us END AS skew
        |  FROM (SELECT *, MAX(us) OVER (PARTITION BY conv_id ORDER BY turn_idx
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |        FROM b))
        |SELECT day, CAST(COUNT(*) AS BIGINT) AS events,
        |  CAST(COUNT(skew) AS BIGINT) AS late_events,
        |  ROUND(CAST(COUNT(skew) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS late_share,
        |  quantile_cont(skew, 0.5) AS skew_p50_us,
        |  quantile_cont(skew, 0.95) AS skew_p95_us,
        |  CAST(MAX(skew) AS BIGINT) AS skew_max_us
        |FROM s GROUP BY 1""".stripMargin),
    // q110's mirror with arrival order REVERSED (-turn_idx): the late
    // path — dense skew populations — checked hash-exact; quantile_cont
    // over integer µs ≡ percentile (the q18 guarantee)
    "q111_ooo_skew_reversed" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, -turn_idx AS turn_idx, EPOCH_US(ts) AS us,
        |    MAKE_TIMESTAMP(EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) AS day
        |  FROM transcripts
        |  WHERE ts IS NOT NULL AND conv_id IS NOT NULL
        |    AND turn_idx IS NOT NULL),
        |s AS (
        |  SELECT day, CASE WHEN hwm > us THEN hwm - us END AS skew
        |  FROM (SELECT *, MAX(us) OVER (PARTITION BY conv_id ORDER BY turn_idx
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |        FROM b))
        |SELECT day, CAST(COUNT(*) AS BIGINT) AS events,
        |  CAST(COUNT(skew) AS BIGINT) AS late_events,
        |  ROUND(CAST(COUNT(skew) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS late_share,
        |  quantile_cont(skew, 0.5) AS skew_p50_us,
        |  quantile_cont(skew, 0.95) AS skew_p95_us,
        |  CAST(MAX(skew) AS BIGINT) AS skew_max_us
        |FROM s GROUP BY 1""".stripMargin),
    // iterated-CTE form of the funnel (independent of the engine's
    // window-chain form): step k = min packed key strictly after the
    // conv's step k-1; HUGEINT pack ≡ the engine's DECIMAL(38,0)
    "q112_funnel" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, tool,
        |    CAST(EPOCH_US(ts) AS HUGEINT) * 4294967296
        |      + (CAST(turn_idx AS BIGINT) + 2147483648) AS pk
        |  FROM transcripts
        |  WHERE ts IS NOT NULL AND conv_id IS NOT NULL
        |    AND turn_idx IS NOT NULL AND tool IS NOT NULL
        |    AND turn_idx < 8),
        |s1 AS (
        |  SELECT conv_id,
        |    MIN(CASE WHEN tool = 'signup' THEN pk END) AS p1
        |  FROM b GROUP BY 1),
        |s2 AS (
        |  SELECT b.conv_id,
        |    MIN(CASE WHEN b.tool = 'purchase' AND b.pk > s1.p1
        |        THEN b.pk END) AS p2
        |  FROM b JOIN s1 USING (conv_id) GROUP BY 1),
        |s3 AS (
        |  SELECT b.conv_id,
        |    MIN(CASE WHEN b.tool = 'error' AND b.pk > s2.p2
        |        THEN b.pk END) AS p3
        |  FROM b JOIN s2 USING (conv_id) GROUP BY 1),
        |j AS (
        |  SELECT
        |    p1, p2, p3,
        |    (p2 // 4294967296) - (p1 // 4294967296) AS d2,
        |    (p3 // 4294967296) - (p2 // 4294967296) AS d3
        |  FROM s1 JOIN s2 USING (conv_id) JOIN s3 USING (conv_id)),
        |c AS (
        |  SELECT COUNT(p1) AS c1, COUNT(p2) AS c2, COUNT(p3) AS c3,
        |    SUM(d2) AS sd2, SUM(d3) AS sd3,
        |    CAST(MAX(d2) AS BIGINT) AS md2, CAST(MAX(d3) AS BIGINT) AS md3
        |  FROM j)
        |SELECT 1 AS step, 'signup' AS tool, CAST(c1 AS BIGINT) AS convs,
        |  CASE WHEN c1 > 0 THEN
        |    ROUND(CAST(c1 AS DOUBLE) / CAST(c1 AS DOUBLE), 6)
        |  END AS conversion,
        |  CAST(NULL AS DOUBLE) AS avg_step_us,
        |  CAST(NULL AS BIGINT) AS max_step_us FROM c
        |UNION ALL
        |SELECT 2, 'purchase', CAST(c2 AS BIGINT),
        |  CASE WHEN c1 > 0 THEN
        |    ROUND(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE), 6)
        |  END,
        |  CASE WHEN c2 > 0 THEN
        |    ROUND(CAST(sd2 AS DOUBLE) / CAST(c2 AS DOUBLE), 6)
        |  END, md2 FROM c
        |UNION ALL
        |SELECT 3, 'error', CAST(c3 AS BIGINT),
        |  CASE WHEN c1 > 0 THEN
        |    ROUND(CAST(c3 AS DOUBLE) / CAST(c1 AS DOUBLE), 6)
        |  END,
        |  CASE WHEN c3 > 0 THEN
        |    ROUND(CAST(sd3 AS DOUBLE) / CAST(c3 AS DOUBLE), 6)
        |  END, md3 FROM c""".stripMargin),
    // q112's iterated-CTE funnel through the delta frame, read out as
    // exact interpolated transition quantiles (quantile_cont ≡ Spark
    // percentile — the q18 pin)
    "q142_funnel_latency" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, tool,
        |    CAST(EPOCH_US(ts) AS HUGEINT) * 4294967296
        |      + (CAST(turn_idx AS BIGINT) + 2147483648) AS pk
        |  FROM transcripts
        |  WHERE ts IS NOT NULL AND conv_id IS NOT NULL
        |    AND turn_idx IS NOT NULL AND tool IS NOT NULL
        |    AND turn_idx < 8),
        |s1 AS (
        |  SELECT conv_id,
        |    MIN(CASE WHEN tool = 'signup' THEN pk END) AS p1
        |  FROM b GROUP BY 1),
        |s2 AS (
        |  SELECT b.conv_id,
        |    MIN(CASE WHEN b.tool = 'purchase' AND b.pk > s1.p1
        |        THEN b.pk END) AS p2
        |  FROM b JOIN s1 USING (conv_id) GROUP BY 1),
        |s3 AS (
        |  SELECT b.conv_id,
        |    MIN(CASE WHEN b.tool = 'error' AND b.pk > s2.p2
        |        THEN b.pk END) AS p3
        |  FROM b JOIN s2 USING (conv_id) GROUP BY 1),
        |j AS (
        |  SELECT
        |    p1, p2, p3,
        |    (p2 // 4294967296) - (p1 // 4294967296) AS d2,
        |    (p3 // 4294967296) - (p2 // 4294967296) AS d3
        |  FROM s1 JOIN s2 USING (conv_id) JOIN s3 USING (conv_id)),
        |v2 AS (
        |  SELECT CAST(d2 AS DOUBLE) AS d,
        |    ROW_NUMBER() OVER (ORDER BY d2) - 1 AS rk,
        |    COUNT(*) OVER () AS n
        |  FROM j WHERE d2 IS NOT NULL),
        |v3 AS (
        |  SELECT CAST(d3 AS DOUBLE) AS d,
        |    ROW_NUMBER() OVER (ORDER BY d3) - 1 AS rk,
        |    COUNT(*) OVER () AS n
        |  FROM j WHERE d3 IS NOT NULL),
        |-- Spark's exact-percentile interpolation mirrored TERM FOR
        |-- TERM (two-sided weighting with the equal-rank
        |-- short-circuit), UNROUNDED: quantile_cont evaluates the
        |-- interpolation in a different floating-point order, and
        |-- ROUND(double, 6) here goes through x*1e6 > 2^53 (lossy)
        |-- where Spark rounds exactly via BigDecimal
        |q2 AS (
        |  SELECT p, MAX(p * (n - 1)) AS pos,
        |    MAX(CASE WHEN rk = CAST(FLOOR(p * (n - 1)) AS BIGINT)
        |        THEN d END) AS lo,
        |    MAX(CASE WHEN rk = CAST(CEIL(p * (n - 1)) AS BIGINT)
        |        THEN d END) AS hi
        |  -- p as DOUBLE: DuckDB's 0.95 literal is DECIMAL, making pos
        |  -- decimal-exact (22.80) where Spark computes 0.95*(n-1) in
        |  -- doubles (22.799999...) — the frac weights then differ
        |  FROM v2, (SELECT UNNEST([CAST(0.5 AS DOUBLE),
        |                           CAST(0.95 AS DOUBLE)]) AS p) GROUP BY 1),
        |q3 AS (
        |  SELECT p, MAX(p * (n - 1)) AS pos,
        |    MAX(CASE WHEN rk = CAST(FLOOR(p * (n - 1)) AS BIGINT)
        |        THEN d END) AS lo,
        |    MAX(CASE WHEN rk = CAST(CEIL(p * (n - 1)) AS BIGINT)
        |        THEN d END) AS hi
        |  FROM v3, (SELECT UNNEST([CAST(0.5 AS DOUBLE),
        |                           CAST(0.95 AS DOUBLE)]) AS p) GROUP BY 1),
        |c AS (SELECT COUNT(p2) AS c2, COUNT(p3) AS c3 FROM j)
        |SELECT 2 AS step, 'purchase' AS tool, CAST(c2 AS BIGINT) AS convs,
        |  (SELECT CASE WHEN CEIL(pos) = FLOOR(pos) THEN lo
        |     ELSE (CEIL(pos) - pos) * lo + (pos - FLOOR(pos)) * hi END
        |   FROM q2 WHERE p = 0.5) AS p50_us,
        |  (SELECT CASE WHEN CEIL(pos) = FLOOR(pos) THEN lo
        |     ELSE (CEIL(pos) - pos) * lo + (pos - FLOOR(pos)) * hi END
        |   FROM q2 WHERE p = 0.95) AS p95_us
        |FROM c
        |UNION ALL
        |SELECT 3, 'error', CAST(c3 AS BIGINT),
        |  (SELECT CASE WHEN CEIL(pos) = FLOOR(pos) THEN lo
        |     ELSE (CEIL(pos) - pos) * lo + (pos - FLOOR(pos)) * hi END
        |   FROM q3 WHERE p = 0.5),
        |  (SELECT CASE WHEN CEIL(pos) = FLOOR(pos) THEN lo
        |     ELSE (CEIL(pos) - pos) * lo + (pos - FLOOR(pos)) * hi END
        |   FROM q3 WHERE p = 0.95)
        |FROM c""".stripMargin),
    // the md5 permutation is the same deterministic draw in both
    // engines (md5 parity), so the SELECTED
    // ROWS hash-match, pinning the whole sample
    "q113_sample_per_conv" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx, role, text, tool, ts
        |FROM transcripts
        |WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY conv_id
        |  ORDER BY CAST('0x' || substr(
        |      md5(conv_id || ':' || CAST(turn_idx AS VARCHAR)), 1, 15)
        |    AS BIGINT),
        |    turn_idx) <= 5""".stripMargin),
    // 28-bit md5-prefix bucket mod 1000 (the h28 cross-engine trick)
    "q114_split_census" -> Transcripts.oracle(
      """, b AS (
        |  SELECT
        |    CASE WHEN CAST('0x' || substr(md5(conv_id), 1, 7) AS BIGINT)
        |           % 1000 < 800 THEN 'train'
        |         WHEN CAST('0x' || substr(md5(conv_id), 1, 7) AS BIGINT)
        |           % 1000 < 900 THEN 'val'
        |         ELSE 'test' END AS split,
        |    conv_id, LENGTH(text) AS chars
        |  FROM transcripts WHERE conv_id IS NOT NULL)
        |SELECT split, CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS convs,
        |  CAST(COUNT(*) AS BIGINT) AS turns,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) /
        |    CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6) AS turn_share,
        |  CAST(COALESCE(SUM(chars), 0) AS BIGINT) AS char_sum
        |FROM b GROUP BY 1""".stripMargin),
    // U+0001-joined length-prefixed texts (`<charlen>:<text>`, null
    // turn -> bare 'N') in turn order; the oracle derives each digest
    // independently from raw turns
    "q115_conv_fingerprint" -> Transcripts.oracle(
      """SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS turns,
        |  CAST(COALESCE(SUM(LENGTH(text)), 0) AS BIGINT) AS char_sum,
        |  md5(string_agg(
        |    CASE WHEN text IS NULL THEN 'N'
        |         ELSE length(text) || ':' || text END, chr(1)
        |    ORDER BY turn_idx,
        |      CASE WHEN text IS NULL THEN 'N'
        |           ELSE length(text) || ':' || text END)) AS digest
        |FROM transcripts
        |WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
        |GROUP BY 1""".stripMargin),
    "q116_tool_paths" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, turn_idx, tool
        |  FROM transcripts
        |  WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
        |    AND tool IS NOT NULL
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY conv_id
        |    ORDER BY turn_idx) <= 4),
        |p AS (
        |  SELECT conv_id, string_agg(tool, '>' ORDER BY turn_idx, tool)
        |    AS path
        |  FROM b GROUP BY 1)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS convs,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) /
        |    CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6) AS share
        |FROM p GROUP BY 1""".stripMargin),
    "q119_rollup_grouping_sets" -> Transcripts.oracle(
      """SELECT CAST(GROUPING(conv_id) AS INT) AS scope, conv_id,
        |  DATE_TRUNC('hour', ts) AS window_start,
        |  CAST(COUNT(*) AS BIGINT) AS turn_count,
        |  CAST(COUNT(tool) AS BIGINT) AS tool_calls,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS char_len_sum
        |FROM transcripts
        |GROUP BY GROUPING SETS ((conv_id, DATE_TRUNC('hour', ts)),
        |                        (DATE_TRUNC('hour', ts)))""".stripMargin),
    "q120_turn_integrity" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, turn_idx FROM transcripts
        |  WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
        |    AND turn_idx % 7 != 3)
        |SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS turns,
        |  CAST(COUNT(DISTINCT turn_idx) AS BIGINT) AS distinct_turns,
        |  CAST(MIN(turn_idx) AS BIGINT) AS min_idx,
        |  CAST(MAX(turn_idx) AS BIGINT) AS max_idx,
        |  CAST(COUNT(*) - COUNT(DISTINCT turn_idx) AS BIGINT) AS dup_keys,
        |  CAST(MAX(turn_idx) - MIN(turn_idx) + 1
        |    - COUNT(DISTINCT turn_idx) AS BIGINT) AS missing_turns,
        |  (COUNT(*) = COUNT(DISTINCT turn_idx)
        |    AND MAX(turn_idx) - MIN(turn_idx) + 1 = COUNT(DISTINCT turn_idx)
        |    AND MIN(turn_idx) = 0) AS contiguous
        |FROM b GROUP BY 1""".stripMargin),
    // the histogram census mirrors q49 (minus the null-text bucket);
    // the crossing pick and interpolation mirror histogramQuantile's
    // arithmetic term-for-term (r = q*total; value = b*w + w*(r-cb)/cnt)
    "q121_histogram_quantile" -> Transcripts.oracle(
      """, h AS (
        |  SELECT MAKE_TIMESTAMP(EPOCH_US(ts)
        |           - ((EPOCH_US(ts) % 3600000000) + 3600000000) % 3600000000)
        |           AS window_start,
        |         LENGTH(text) // 50 AS bucket
        |  FROM transcripts WHERE text IS NOT NULL),
        |g AS (
        |  SELECT window_start, bucket, COUNT(*) AS cnt FROM h GROUP BY 1, 2),
        |c AS (
        |  SELECT window_start, bucket, cnt,
        |    SUM(cnt) OVER (PARTITION BY window_start ORDER BY bucket
        |                   ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(cnt) OVER (PARTITION BY window_start) AS total
        |  FROM g)
        |SELECT window_start, CAST(MAX(total) AS BIGINT) AS turns,
        |  ROUND(MIN(CASE WHEN CAST(cum - cnt AS DOUBLE)
        |                   < 0.5 * CAST(total AS DOUBLE)
        |                  AND 0.5 * CAST(total AS DOUBLE)
        |                   <= CAST(cum AS DOUBLE)
        |    THEN CAST(bucket AS DOUBLE) * 50.0
        |      + 50.0 * (0.5 * CAST(total AS DOUBLE)
        |                - CAST(cum - cnt AS DOUBLE))
        |        / CAST(cnt AS DOUBLE) END), 6) AS hq_p50,
        |  ROUND(MIN(CASE WHEN CAST(cum - cnt AS DOUBLE)
        |                   < 0.95 * CAST(total AS DOUBLE)
        |                  AND 0.95 * CAST(total AS DOUBLE)
        |                   <= CAST(cum AS DOUBLE)
        |    THEN CAST(bucket AS DOUBLE) * 50.0
        |      + 50.0 * (0.95 * CAST(total AS DOUBLE)
        |                - CAST(cum - cnt AS DOUBLE))
        |        / CAST(cnt AS DOUBLE) END), 6) AS hq_p95
        |FROM c GROUP BY 1""".stripMargin),
    // same md5-uniform, same ln(u)/w priority, same tie-break; the
    // priority stays out of the projection on BOTH sides
    "q122_weighted_sample" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx, role,
        |  CAST(COALESCE(LENGTH(text), 0) + 1 AS BIGINT) AS weight
        |FROM transcripts
        |WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
        |ORDER BY LN((CAST(CAST('0x' || substr(
        |      md5(conv_id || ':' || CAST(turn_idx AS VARCHAR)), 1, 15)
        |    AS BIGINT) AS DOUBLE) + 1.0) / 1152921504606846976.0)
        |  / CAST(COALESCE(LENGTH(text), 0) + 1 AS DOUBLE) DESC,
        |  conv_id, turn_idx
        |LIMIT 200""".stripMargin),
    // the oracle computes the 1h histogram DIRECTLY from raw (the q49
    // shape); the Spark side merges 1m artifacts — identical counts
    // prove the histogram is a mergeable summary, and the pct division
    // runs on the same longs on both sides
    "q123_histogram_merge" -> Transcripts.oracle(
      """, h AS (
        |  SELECT MAKE_TIMESTAMP(EPOCH_US(ts)
        |           - ((EPOCH_US(ts) % 3600000000) + 3600000000) % 3600000000)
        |           AS window_start,
        |         LENGTH(text) // 50 AS bucket
        |  FROM transcripts)
        |SELECT window_start, CAST(bucket AS BIGINT) AS bucket,
        |  COUNT(*) AS cnt,
        |  CAST(COUNT(*) AS DOUBLE)
        |    / CAST(SUM(COUNT(*)) OVER (PARTITION BY window_start) AS DOUBLE) AS pct
        |FROM h GROUP BY 1, 2""".stripMargin),
    // exact top-k oracle (the q75 shape): at capacity >= vocabulary the
    // sketch never trims, so its counts ARE the exact counts
    "q124_term_topk_sketch" -> Transcripts.oracle(
      """, tk AS (
        |  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS term
        |  FROM transcripts WHERE text IS NOT NULL),
        |tc AS (SELECT term, COUNT(*) AS occurrences FROM tk GROUP BY 1),
        |tt AS (SELECT CAST(SUM(occurrences) AS BIGINT) AS total FROM tc),
        |top AS (
        |  SELECT term, occurrences FROM tc
        |  ORDER BY occurrences DESC, term LIMIT 50)
        |SELECT
        |  CAST(ROW_NUMBER() OVER (ORDER BY occurrences DESC, term) AS BIGINT)
        |    AS rank,
        |  term, occurrences,
        |  ROUND(CAST(occurrences AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
        |FROM top, tt""".stripMargin),
    // the q37 oracle with event_id widened to BIGINT (the aggregator
    // orders longs); selection and rank order are the identical total
    // order (ts DESC, event_id DESC)
    "q125_topk_per_key_agg" ->
      """SELECT user_id, CAST(event_id AS BIGINT) AS event_id, ts,
        |  CAST(ROW_NUMBER() OVER w AS INT) AS rank
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
        |QUALIFY rank <= 3""".stripMargin,
    // both CTEs re-derive the 1d rollup (the q02/q04 shape) over full
    // vs pre-cutoff input; FULL JOIN with null-safe key equality
    // (IS NOT DISTINCT FROM ≡ Spark <=>) and null-safe measure drift
    "q128_rollup_diff" -> Transcripts.oracle(
      """, m AS (
        |  SELECT conv_id, DATE_TRUNC('day', ts) AS window_start,
        |    COUNT(*) AS turn_count,
        |    CAST(SUM(LENGTH(text)) AS BIGINT) AS char_len_sum,
        |    COUNT(tool) AS tool_calls, 1 AS _p
        |  FROM transcripts WHERE ts < TIMESTAMP '2024-01-20 12:00:00'
        |  GROUP BY 1, 2),
        |n AS (
        |  SELECT conv_id, DATE_TRUNC('day', ts) AS window_start,
        |    COUNT(*) AS turn_count,
        |    CAST(SUM(LENGTH(text)) AS BIGINT) AS char_len_sum,
        |    COUNT(tool) AS tool_calls, 1 AS _p
        |  FROM transcripts
        |  GROUP BY 1, 2)
        |SELECT
        |  COALESCE(m.conv_id, n.conv_id) AS conv_id,
        |  COALESCE(m.window_start, n.window_start) AS window_start,
        |  CASE WHEN m._p IS NULL THEN 'added'
        |       WHEN n._p IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status,
        |  m.turn_count AS old_turn_count, n.turn_count AS new_turn_count,
        |  m.char_len_sum AS old_char_len_sum, n.char_len_sum AS new_char_len_sum,
        |  m.tool_calls AS old_tool_calls, n.tool_calls AS new_tool_calls
        |FROM m FULL JOIN n
        |  ON m.conv_id IS NOT DISTINCT FROM n.conv_id
        | AND m.window_start IS NOT DISTINCT FROM n.window_start
        |WHERE m._p IS NULL OR n._p IS NULL
        |   OR m.turn_count IS DISTINCT FROM n.turn_count
        |   OR m.char_len_sum IS DISTINCT FROM n.char_len_sum
        |   OR m.tool_calls IS DISTINCT FROM n.tool_calls""".stripMargin),
    // mirrors SeriesOps.hampelDaily term for term: sorted-array median
    // element arithmetic (odd = middle, even = mean of middles), MAD
    // from the UNrounded median, rounding only at projection
    "q129_hampel_outliers" -> Transcripts.oracle(
      """, d AS (
        |  SELECT DATE_TRUNC('day', ts) AS day, COUNT(*) AS turn_count
        |  FROM transcripts WHERE ts IS NOT NULL GROUP BY 1),
        |wl AS (
        |  SELECT day, turn_count,
        |    list_sort(list(turn_count) OVER (
        |      ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS a
        |  FROM d),
        |m AS (
        |  SELECT day, turn_count, a,
        |    CASE WHEN len(a) % 2 = 1 THEN CAST(a[(len(a)+1)//2] AS DOUBLE)
        |         ELSE (CAST(a[len(a)//2] AS DOUBLE)
        |               + CAST(a[len(a)//2 + 1] AS DOUBLE)) / 2.0 END AS med
        |  FROM wl),
        |m2 AS (
        |  SELECT day, turn_count, a, med,
        |    list_sort(list_transform(a,
        |      x -> abs(CAST(x AS DOUBLE) - med))) AS b
        |  FROM m),
        |m3 AS (
        |  SELECT day, turn_count, a, med,
        |    CASE WHEN len(b) % 2 = 1 THEN b[(len(b)+1)//2]
        |         ELSE (b[len(b)//2] + b[len(b)//2 + 1]) / 2.0 END AS mad
        |  FROM m2)
        |SELECT day, turn_count,
        |  CAST(len(a) AS INT) AS n_window,
        |  ROUND(med, 6) AS med,
        |  ROUND(mad, 6) AS mad,
        |  abs(CAST(turn_count AS DOUBLE) - med) > 3.0 * mad AS is_outlier
        |FROM m3""".stripMargin),
    // mirrors SeriesOps.sessionCoverageDaily: the q19 session CTE,
    // day-sliced intervals, incremental-coverage window (running max
    // of previous ends), ±1 sweep line ordered (t, delta)
    "q130_session_coverage" -> Transcripts.oracle(sessionCte +
      """,
        |sess AS (
        |  SELECT EPOCH_US(MIN(ts)) AS s, EPOCH_US(MAX(ts)) AS e
        |  FROM assigned GROUP BY conv_id, session_idx),
        |sl0 AS (
        |  SELECT s, e,
        |    UNNEST(generate_series(s // 86400000000, e // 86400000000)) AS d
        |  FROM sess),
        |sl AS (
        |  SELECT d, GREATEST(s, d * 86400000000) AS ss,
        |    LEAST(e, (d + 1) * 86400000000) AS se
        |  FROM sl0),
        |pm AS (
        |  SELECT d, ss, se,
        |    MAX(se) OVER (PARTITION BY d ORDER BY ss, se
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM sl),
        |cov AS (
        |  SELECT d, COUNT(*) AS n_sessions,
        |    CAST(SUM(GREATEST(0, se - GREATEST(ss, COALESCE(pmax, ss))))
        |      AS BIGINT) AS covered_us
        |  FROM pm GROUP BY 1),
        |ev AS (
        |  SELECT d, ss AS t, 1 AS delta FROM sl
        |  UNION ALL
        |  SELECT d, se AS t, -1 AS delta FROM sl),
        |sw AS (
        |  SELECT d, CAST(SUM(delta) OVER (PARTITION BY d ORDER BY t, delta
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
        |  FROM ev),
        |conc AS (SELECT d, MAX(c) AS max_concurrent FROM sw GROUP BY 1)
        |SELECT MAKE_TIMESTAMP(cov.d * 86400000000) AS day,
        |  cov.n_sessions, cov.covered_us,
        |  ROUND(CAST(cov.covered_us AS DOUBLE) / 86400000000.0, 6)
        |    AS coverage_frac,
        |  conc.max_concurrent
        |FROM cov JOIN conc ON cov.d = conc.d""".stripMargin),
    // presence-explode identity mirrored: window-ends restricted to
    // observed days; q132 (the HLL artifact) is rows-only by design —
    // its error bound is pinned against THIS query in SeriesOpsSpec
    "q131_rolling_active" -> Transcripts.oracle(
      """, p AS (
        |  SELECT DISTINCT conv_id,
        |    (EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |      + 86400000000) % 86400000000) // 86400000000 AS d
        |  FROM transcripts WHERE ts IS NOT NULL AND conv_id IS NOT NULL),
        |dau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS active_convs
        |        FROM p GROUP BY 1),
        |ex AS (
        |  SELECT DISTINCT conv_id, e FROM (
        |    SELECT conv_id, UNNEST(generate_series(d, d + 6)) AS e FROM p)),
        |wau AS (
        |  SELECT ex.e AS d, CAST(COUNT(*) AS BIGINT) AS rolling_active
        |  FROM ex JOIN (SELECT DISTINCT d FROM p) o ON ex.e = o.d
        |  GROUP BY 1)
        |SELECT MAKE_TIMESTAMP(dau.d * 86400000000) AS day,
        |  dau.active_convs, wau.rolling_active
        |FROM dau JOIN wau ON dau.d = wau.d""".stripMargin),
    // canonical INJECTIVE row string (chr(1) joins, each field
    // length-prefixed `<charlen>:<value>`, NULL -> bare 'N', epoch
    // micros for ts), 60-bit md5 prefix, HUGEINT-exact sum rendered
    // through DECIMAL(38,0) as text
    "q136_corpus_checksum" -> Transcripts.oracle(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(SUM(h) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
        |FROM (
        |  SELECT CAST('0x' || substr(md5(concat_ws(chr(1),
        |    CASE WHEN conv_id IS NULL THEN 'N' ELSE length(conv_id) || ':' || conv_id END,
        |    CASE WHEN CAST(turn_idx AS VARCHAR) IS NULL THEN 'N' ELSE length(CAST(turn_idx AS VARCHAR)) || ':' || CAST(turn_idx AS VARCHAR) END,
        |    CASE WHEN role IS NULL THEN 'N' ELSE length(role) || ':' || role END,
        |    CASE WHEN text IS NULL THEN 'N' ELSE length(text) || ':' || text END,
        |    CASE WHEN tool IS NULL THEN 'N' ELSE length(tool) || ':' || tool END,
        |    CASE WHEN CAST(EPOCH_US(ts) AS VARCHAR) IS NULL THEN 'N' ELSE length(CAST(EPOCH_US(ts) AS VARCHAR)) || ':' || CAST(EPOCH_US(ts) AS VARCHAR) END)), 1, 15)
        |    AS BIGINT) AS h
        |  FROM transcripts)""".stripMargin),
    // q136's hash grouped by the µs-floor day (NULL ts → NULL day)
    "q137_daily_checksum" -> Transcripts.oracle(
      """SELECT
        |  MAKE_TIMESTAMP(EPOCH_US(ts) - ((EPOCH_US(ts) % 86400000000)
        |    + 86400000000) % 86400000000) AS day,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(SUM(CAST('0x' || substr(md5(concat_ws(chr(1),
        |    CASE WHEN conv_id IS NULL THEN 'N' ELSE length(conv_id) || ':' || conv_id END,
        |    CASE WHEN CAST(turn_idx AS VARCHAR) IS NULL THEN 'N' ELSE length(CAST(turn_idx AS VARCHAR)) || ':' || CAST(turn_idx AS VARCHAR) END,
        |    CASE WHEN role IS NULL THEN 'N' ELSE length(role) || ':' || role END,
        |    CASE WHEN text IS NULL THEN 'N' ELSE length(text) || ':' || text END,
        |    CASE WHEN tool IS NULL THEN 'N' ELSE length(tool) || ':' || tool END,
        |    CASE WHEN CAST(EPOCH_US(ts) AS VARCHAR) IS NULL THEN 'N' ELSE length(CAST(EPOCH_US(ts) AS VARCHAR)) || ':' || CAST(EPOCH_US(ts) AS VARCHAR) END)), 1, 15)
        |    AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
        |FROM transcripts
        |GROUP BY 1""".stripMargin),
    // the q48 moment CTEs verbatim, read out as slope/intercept/R²;
    // intercept uses the UNROUNDED cov/vx, mirroring the Spark side
    "q138_ols_trend" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, COUNT(*) AS n,
        |    CAST(SUM(turn_idx) AS BIGINT) AS sx,
        |    CAST(SUM(CAST(LENGTH(text) AS BIGINT)) AS BIGINT) AS sy,
        |    CAST(SUM(turn_idx * CAST(LENGTH(text) AS BIGINT)) AS BIGINT) AS sxy,
        |    CAST(SUM(CAST(turn_idx AS BIGINT) * turn_idx) AS BIGINT) AS sxx,
        |    CAST(SUM(CAST(LENGTH(text) AS BIGINT) * LENGTH(text)) AS BIGINT) AS syy
        |  FROM transcripts
        |  WHERE text IS NOT NULL AND turn_idx IS NOT NULL GROUP BY 1),
        |v AS (
        |  SELECT conv_id, n, sx, sy,
        |    CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cov,
        |    CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS vx,
        |    CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS vy
        |  FROM b)
        |SELECT conv_id, n,
        |  CASE WHEN n >= 3 AND vx > 0 THEN ROUND(cov / vx, 6) END AS slope,
        |  CASE WHEN n >= 3 AND vx > 0 THEN
        |    ROUND((CAST(sy AS DOUBLE) - (cov / vx) * CAST(sx AS DOUBLE))
        |      / CAST(n AS DOUBLE), 6) END AS intercept,
        |  CASE WHEN n >= 3 AND vx > 0 AND vy > 0 THEN
        |    ROUND((cov * cov) / (vx * vy), 6) END AS r2
        |FROM v""".stripMargin),
    // stitched tier answer ≡ direct aggregation of raw over the range:
    // the oracle never sees tiers — it IS the semantics being stitched
    "q140_tier_stitch" -> Transcripts.oracle(
      """SELECT
        |  conv_id,
        |  COUNT(*) AS turn_count,
        |  COUNT(*) FILTER (WHERE role = 'user') AS user_turns,
        |  COUNT(*) FILTER (WHERE role = 'assistant') AS assistant_turns,
        |  COUNT(tool) AS tool_calls,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS char_len_sum,
        |  CAST(MIN(LENGTH(text)) AS BIGINT) AS char_len_min,
        |  CAST(MAX(LENGTH(text)) AS BIGINT) AS char_len_max,
        |  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS token_sum,
        |  MIN(turn_idx) AS min_turn_idx,
        |  MAX(turn_idx) AS max_turn_idx,
        |  ARG_MIN(text, turn_idx) AS first_text,
        |  ARG_MAX(text, turn_idx) AS last_text,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) * 1.0 / COUNT(*) AS char_len_avg
        |FROM transcripts
        |WHERE ts >= TIMESTAMP '2024-01-03 07:41:23'
        |  AND ts < TIMESTAMP '2024-01-27 18:22:05'
        |GROUP BY 1""".stripMargin),
    // identical semantics to q140: stored tiers must serve the same
    // answer direct raw aggregation gives
    "q141_tier_stitch_stored" -> Transcripts.oracle(
      """SELECT
        |  conv_id,
        |  COUNT(*) AS turn_count,
        |  COUNT(*) FILTER (WHERE role = 'user') AS user_turns,
        |  COUNT(*) FILTER (WHERE role = 'assistant') AS assistant_turns,
        |  COUNT(tool) AS tool_calls,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS char_len_sum,
        |  CAST(MIN(LENGTH(text)) AS BIGINT) AS char_len_min,
        |  CAST(MAX(LENGTH(text)) AS BIGINT) AS char_len_max,
        |  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS token_sum,
        |  MIN(turn_idx) AS min_turn_idx,
        |  MAX(turn_idx) AS max_turn_idx,
        |  ARG_MIN(text, turn_idx) AS first_text,
        |  ARG_MAX(text, turn_idx) AS last_text,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) * 1.0 / COUNT(*) AS char_len_avg
        |FROM transcripts
        |WHERE ts >= TIMESTAMP '2024-01-03 07:41:23'
        |  AND ts < TIMESTAMP '2024-01-27 18:22:05'
        |GROUP BY 1""".stripMargin),
    // the serving mode answers from a LAGGING warehouse + raw tail —
    // the oracle is still direct raw aggregation, unchanged
    "q144_tier_stitch_serving" -> Transcripts.oracle(
      """SELECT
        |  conv_id,
        |  COUNT(*) AS turn_count,
        |  COUNT(*) FILTER (WHERE role = 'user') AS user_turns,
        |  COUNT(*) FILTER (WHERE role = 'assistant') AS assistant_turns,
        |  COUNT(tool) AS tool_calls,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS char_len_sum,
        |  CAST(MIN(LENGTH(text)) AS BIGINT) AS char_len_min,
        |  CAST(MAX(LENGTH(text)) AS BIGINT) AS char_len_max,
        |  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS token_sum,
        |  MIN(turn_idx) AS min_turn_idx,
        |  MAX(turn_idx) AS max_turn_idx,
        |  ARG_MIN(text, turn_idx) AS first_text,
        |  ARG_MAX(text, turn_idx) AS last_text,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) * 1.0 / COUNT(*) AS char_len_avg
        |FROM transcripts
        |WHERE ts >= TIMESTAMP '2024-01-03 07:41:23'
        |  AND ts < TIMESTAMP '2024-01-27 18:22:05'
        |GROUP BY 1""".stripMargin),
    // the q59 Simpson shape over consecutive tool pairs; dominant
    // pair tie-break = MIN(pair | c = per-conv max c) in both engines
    "q145_tool_transition_diversity" -> Transcripts.oracle(
      """, b AS (
        |  SELECT conv_id, turn_idx, tool
        |  FROM transcripts
        |  WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
        |    AND tool IS NOT NULL),
        |p AS (
        |  SELECT conv_id, tool || '>' ||
        |    LEAD(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS pair
        |  FROM b),
        |c AS (
        |  SELECT conv_id, pair, COUNT(*) AS c
        |  FROM p WHERE pair IS NOT NULL GROUP BY 1, 2),
        |x AS (
        |  SELECT conv_id, pair, c,
        |    MAX(c) OVER (PARTITION BY conv_id) AS mc
        |  FROM c),
        |m AS (
        |  SELECT conv_id, COUNT(*) AS n_pairs,
        |    CAST(SUM(c) AS BIGINT) AS transitions,
        |    CAST(SUM(c * c) AS BIGINT) AS ss,
        |    MIN(CASE WHEN c = mc THEN pair END) AS top_pair,
        |    CAST(MAX(c) AS BIGINT) AS topc
        |  FROM x GROUP BY 1)
        |SELECT conv_id, n_pairs, transitions,
        |  ROUND(1.0 - CAST(ss AS DOUBLE)
        |    / (CAST(transitions AS DOUBLE) * transitions), 6) AS simpson_diversity,
        |  ROUND(CAST(transitions AS DOUBLE) * transitions
        |    / CAST(ss AS DOUBLE), 6) AS effective_pairs,
        |  top_pair,
        |  ROUND(CAST(topc AS DOUBLE)
        |    / CAST(transitions AS DOUBLE), 6) AS top_share
        |FROM m""".stripMargin)
  )
}
