package graft.rollup

import graft.SparkTestBase
import graft.ingest.Synth
import graft.model.Tier
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan regression guards: the scale properties BENCH/BASELINE.md
  * documents are asserted here so a refactor can't silently reintroduce a
  * shuffle, lose a pushdown, or widen a scan.
  */
class PlanShapeSpec extends SparkTestBase {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private lazy val turns = Synth.transcripts(spark, 16, 30, seed = 5L).toDF()

  test("rollup raw->1m is a single-exchange aggregation with partial agg") {
    val p = plan(Rollup.fromRaw(turns, Tier.M1))
    assert("Exchange".r.findAllIn(p).size == 1, s"expected 1 Exchange:\n$p")
    // map-side combine before the shuffle (partial_*), final after.
    // The agg is SortAggregate, not Hash: min_by/max_by over string
    // columns have no fixed-size mutable buffer — a known, accepted
    // cost of carrying first/last text (BENCH numbers include it).
    assert(p.contains("partial_sum"), s"expected partial aggregation:\n$p")
  }

  test("cascade 1m->1h adds exactly one more exchange, never re-reads raw") {
    val m1 = Rollup.fromRaw(turns, Tier.M1)
    val p = plan(Rollup.cascade(m1, Tier.H1))
    assert("Exchange".r.findAllIn(p).size == 2, s"expected 2 Exchanges:\n$p")
  }

  test("replay semi-join broadcasts the failed-key side (op #8)") {
    val failed = turns.filter(expr("turn_idx % 7 = 1")).select("conv_id", "turn_idx")
    val p = plan(graft.operators.RefOps.replaySemiJoin(turns, failed))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"expected broadcast left-semi join:\n$p")
  }

  test("round-4 timeseries operators: one data exchange each, partial aggs, one Window node") {
    def exchanges(p: String): Int = "Exchange".r.findAllIn(p).size
    def windows(p: String): Int = "\\+- Window ".r.findAllIn(p).size

    // sliding: Expand (map-side window replication) + ONE exchange
    val pSliding = plan(Rollup.sliding(turns))
    assert(exchanges(pSliding) == 1 && pSliding.contains("Expand"),
      s"sliding must be expand + one exchange:\n$pSliding")
    assert(pSliding.contains("partial_sum"), s"sliding needs map-side combine:\n$pSliding")

    // twa: the groupBy(conv_id) must REUSE the lead-window's conv_id
    // partitioning — one exchange total, no shuffle between Window and
    // the final aggregate
    val pTwa = plan(graft.operators.RefOps.timeWeightedAvg(turns))
    assert(exchanges(pTwa) == 1, s"twa must reuse the window partitioning:\n$pTwa")
    assert(pTwa.contains("partial_sum"), s"twa needs partial sums:\n$pTwa")

    // zscore: all three frame aggregates in ONE Window node (the
    // pre-projected square keeps CollapseWindow applicable)
    val pZ = plan(graft.operators.RefOps.rollingZscore(turns))
    assert(exchanges(pZ) == 1, s"zscore must be one exchange:\n$pZ")
    assert(windows(pZ) == 1, s"zscore frame aggs must collapse into one Window:\n$pZ")

    // corr: one partial-aggregated exchange, no window at all
    val pCorr = plan(graft.operators.RefOps.lengthDriftCorr(turns))
    assert(exchanges(pCorr) == 1 && windows(pCorr) == 0,
      s"corr must be a single partial-agg exchange:\n$pCorr")
    assert(pCorr.contains("partial_count"), s"corr needs map-side combine:\n$pCorr")

    // histogram: the share window adds its exchange AFTER aggregation —
    // two exchanges, and the Window sits above the final HashAggregate
    val pHist = plan(Rollup.charLenHistogram(turns))
    assert(exchanges(pHist) == 2, s"histogram is agg exchange + share exchange:\n$pHist")
    assert(pHist.contains("partial_count"), s"histogram needs map-side combine:\n$pHist")

    // cusum: the total-frame window and the two dependent running
    // frames (cumsum, then running min OF the cumsum) all share the
    // conv_id partitioning — three Window nodes, ONE exchange, one sort
    val pCusum = plan(graft.operators.RefOps.cusumChangepoint(turns))
    assert(exchanges(pCusum) == 1, s"cusum must be one exchange:\n$pCusum")
    assert(windows(pCusum) == 3,
      s"cusum is total + cumsum + running-min Window nodes:\n$pCusum")
    assert("Sort ".r.findAllIn(pCusum).size == 1,
      s"the dependent running frames must share one sort:\n$pCusum")

    // autocorr: the lag window and the moment groupBy share the
    // conv_id partitioning (the twa shape) — one exchange
    val pAc = plan(graft.operators.RefOps.lagAutocorr(turns))
    assert(exchanges(pAc) == 1, s"autocorr must reuse the window partitioning:\n$pAc")
    assert(windows(pAc) == 1, s"autocorr is one lag Window:\n$pAc")

    // mad: two dependent percentile windows (MAD consumes the median)
    // over ONE unordered conv_id exchange and one partition-grouping sort
    val pMad = plan(graft.operators.RefOps.madOutliers(turns))
    assert(exchanges(pMad) == 1, s"mad must be one exchange:\n$pMad")
    assert(windows(pMad) == 2, s"mad is median + MAD Window nodes:\n$pMad")

    // turn gaps: lead window + quantile groupBy on the shared conv_id
    // partitioning (the twa shape)
    val pGap = plan(graft.operators.RefOps.turnGapStats(turns))
    assert(exchanges(pGap) == 1, s"gap stats must reuse the window partitioning:\n$pGap")

    // spearman: position-rank and length-rank windows plus the moment
    // groupBy all on ONE conv_id exchange; the peers count must share
    // the length-rank Window node (RANGE current-row frame), not force
    // a (conv_id, char_len) exchange
    val pSp = plan(graft.operators.RefOps.spearmanDrift(turns))
    assert(exchanges(pSp) == 1, s"spearman must be one exchange:\n$pSp")
    assert(windows(pSp) == 2, s"spearman is position + length-rank Window nodes:\n$pSp")

    // holt: one gather exchange, the fold in its own projection so the
    // three field reads evaluate the aggregate ONCE (the ewma idiom)
    val pHolt = plan(graft.operators.RefOps.holtSmooth(turns))
    assert(exchanges(pHolt) == 1, s"holt must be one exchange:\n$pHolt")
    assert("\\baggregate\\(".r.findAllIn(pHolt).size == 1,
      s"the holt fold must run once, not per output field:\n$pHolt")

    // role runs: lag flags + running-sum windows share the
    // (conv_id, turn_idx) spec, and the per-run groupBy reuses the
    // conv_id partitioning — ONE exchange, one sort
    val pRuns = plan(graft.operators.RefOps.roleRuns(turns))
    assert(exchanges(pRuns) == 1, s"role runs must be one exchange:\n$pRuns")
    assert("Sort ".r.findAllIn(pRuns).size == 1,
      s"the flag and cumsum windows must share one sort:\n$pRuns")

    // burst flags: a single RANGE-frame window — one exchange, one sort
    val pBurst = plan(graft.operators.RefOps.burstFlags(turns))
    assert(exchanges(pBurst) == 1, s"burst flags must be one exchange:\n$pBurst")
    assert(windows(pBurst) == 1, s"burst flags is one RANGE Window:\n$pBurst")

    // tool diversity: the (conv, tool) count must partially aggregate
    // MAP-SIDE before its exchange (pre-collapsed triples move, not raw
    // rows); the per-conv reduction adds the metadata-scale exchange —
    // the histogram two-exchange shape
    val pDiv = plan(graft.operators.RefOps.toolDiversity(turns))
    assert(exchanges(pDiv) == 2, s"diversity is count + reduce exchanges:\n$pDiv")
    assert(pDiv.contains("partial_count"), s"diversity needs map-side combine:\n$pDiv")

    // role transitions: one full-data conv_id exchange (lead window);
    // the transition groupBy and the share window are metadata-scale
    val pTrans = plan(graft.operators.RefOps.roleTransitions(turns))
    assert(exchanges(pTrans) == 3,
      s"transitions: lead + pair-agg + share exchanges:\n$pTrans")
    assert(windows(pTrans) == 2, s"transitions is lead + share windows:\n$pTrans")
    assert(pTrans.contains("partial_count"), s"pair agg needs map-side combine:\n$pTrans")

    // vocab growth: the explicit conv_id repartition serves BOTH window
    // specs — one exchange, two sorts (the spearman shape); without it
    // the cumsum would re-exchange the full rows on conv_id
    val pVocab = plan(graft.operators.RefOps.toolVocabGrowth(turns))
    assert(exchanges(pVocab) == 1, s"vocab growth must be one exchange:\n$pVocab")
    assert(windows(pVocab) == 2, s"vocab growth is flag + cumsum windows:\n$pVocab")

    // hourly profile: ONE exchange onto ≤168 cells with map-side combine
    val pProf = plan(graft.operators.RefOps.hourlyProfile(turns))
    assert(exchanges(pProf) == 1, s"profile must be one tiny exchange:\n$pProf")
    assert(pProf.contains("partial_count"), s"profile needs map-side combine:\n$pProf")
  }

  test("continuation-batch operators: exchange budgets hold (q63-q72 scale contracts)") {
    import graft.operators.SeriesOps
    def exchanges(p: String): Int = "Exchange".r.findAllIn(p).size
    def windows(p: String): Int = "Window ".r.findAllIn(p).size

    // ohlc: one partial-aggregated (conv, window) exchange, no Window node
    val pOhlc = plan(SeriesOps.ohlcCandles(turns))
    assert(exchanges(pOhlc) == 1 && windows(pOhlc) == 0,
      s"ohlc must be one partial-agg exchange:\n$pOhlc")
    assert(pOhlc.contains("partial_count"), s"ohlc needs map-side combine:\n$pOhlc")

    // daily deltas: collapsed census exchange + metadata-scale lag exchange
    val pDaily = plan(SeriesOps.dailyDeltas(turns))
    assert(exchanges(pDaily) == 2 && windows(pDaily) == 1,
      s"daily deltas is census exchange + collapsed lag exchange:\n$pDaily")
    assert(pDaily.contains("partial_count"), s"daily needs map-side combine:\n$pDaily")

    // gap report: ONE conv_id exchange, one lead Window
    val pGapRep = plan(SeriesOps.gapReport(turns))
    assert(exchanges(pGapRep) == 1 && windows(pGapRep) == 1,
      s"gap report must be one exchange:\n$pGapRep")

    // paa/sax: ordered rank window + unordered moment window + the
    // (conv, seg) groupBy all share ONE conv_id exchange
    val pSax = plan(SeriesOps.paaSax(turns))
    assert(exchanges(pSax) == 1, s"paaSax must be one exchange:\n$pSax")
    assert(windows(pSax) == 2,
      s"paaSax is rank + moments Window nodes:\n$pSax")

    // theil-sen: tail window + per-conv gather share ONE exchange; the
    // pair generation is array transforms — NO join of any kind
    val pTheil = plan(SeriesOps.theilSenSlope(turns))
    assert(exchanges(pTheil) == 1 && windows(pTheil) == 1,
      s"theil-sen must be one exchange:\n$pTheil")
    assert(!pTheil.contains("Join"), s"theil-sen must not join:\n$pTheil")

    // seasonal residual: hourly census exchange + metadata-scale cell window
    val pSeason = plan(SeriesOps.seasonalResidual(turns))
    assert(exchanges(pSeason) == 2 && windows(pSeason) == 1,
      s"seasonal residual is census exchange + cell window exchange:\n$pSeason")

    // co-occurrence: the reach enrichments must BROADCAST (vocabulary-
    // sized) and nothing may nested-loop-join
    // (the conv self-join's strategy is data-sized — AQE may broadcast
    // it too on a small input — so only the floor is pinned)
    val pCooc = plan(SeriesOps.toolCooccurrence(turns))
    assert("BroadcastHashJoin".r.findAllIn(pCooc).size >= 2,
      s"cooccurrence reach joins must broadcast:\n$pCooc")
    assert(!pCooc.contains("BroadcastNestedLoopJoin"),
      s"cooccurrence must not BNLJ:\n$pCooc")

    // heavy hitters: (day, tool) census exchange, then rank + day-total
    // windows on ONE day_start re-exchange of the collapsed frame
    val pHh = plan(SeriesOps.heavyHittersDaily(turns))
    assert(exchanges(pHh) == 2 && windows(pHh) == 2,
      s"heavy hitters is census exchange + shared day window exchange:\n$pHh")

    // response latency: carry window + per-conv aggregate on ONE exchange
    val pLat = plan(SeriesOps.responseLatency(turns))
    assert(exchanges(pLat) == 1 && windows(pLat) == 1,
      s"response latency must be one exchange:\n$pLat")

    // cohort retention: every exchange AFTER the distinct operates on
    // the collapsed conv-day (or smaller) frame
    val pCohort = plan(SeriesOps.cohortRetention(turns))
    assert(exchanges(pCohort) == 4 && windows(pCohort) == 2,
      s"cohort retention is distinct + cohort window + grid agg + size window:\n$pCohort")

    // sax motifs: the signature fold reuses paaSax's conv_id exchange;
    // only the metadata-scale motif census adds one
    val pMotif = plan(SeriesOps.saxMotifs(turns))
    assert(exchanges(pMotif) == 2,
      s"sax motifs must add only the census exchange:\n$pMotif")

    // term top-k: the vocabulary must NEVER be globally sorted in one
    // partition — the cutoff is the distributed TakeOrderedAndProject
    val pTerm = plan(SeriesOps.termTopK(turns))
    assert(pTerm.contains("TakeOrderedAndProject"),
      s"term top-k must use the distributed top-k operator:\n$pTerm")

    // term lift: census + term-reach window + conv-mass/rank windows +
    // the total branch (census re-agg + single-partition) + its
    // broadcast — six Exchange strings, ALL over collapsed census rows
    val pLift = plan(SeriesOps.termLift(turns))
    assert(exchanges(pLift) == 6 && windows(pLift) == 3 &&
      pLift.contains("BroadcastExchange"),
      s"term lift exchanges must stay census-scale:\n$pLift")

    // mann-kendall: the theilSen single-exchange gather, and the tail
    // cut must push down as a WindowGroupLimit so only <= tailK rows
    // per conversation ever reach the shuffle
    val pMk = plan(SeriesOps.mannKendall(turns))
    assert(exchanges(pMk) == 1 && pMk.contains("WindowGroupLimit"),
      s"mann-kendall must be one exchange with a group-limit pushdown:\n$pMk")

    // rescaled range: cumsum + moment windows + final groupBy all share
    // ONE conv_id exchange (the paaSax clustering-reuse shape)
    val pRs = plan(SeriesOps.rescaledRange(turns))
    assert(exchanges(pRs) == 1,
      s"rescaled range must reuse one conv_id exchange:\n$pRs")

    // day activity rank: (conv, day) census exchange + one day-scale
    // window exchange shared by the size and rank windows
    val pDar = plan(SeriesOps.dayActivityRank(turns))
    assert(exchanges(pDar) == 2 && windows(pDar) == 2,
      s"day activity rank is census + one day window exchange:\n$pDar")
  }

  test("planning-style aggregation prunes the text column from the scan") {
    val dir = tmpDir("planshape-in")
    turns.write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    val planning = scan
      .groupBy((col("ts").isNotNull && col("conv_id").isNotNull).as("ok"),
        date_format(col("ts"), "yyyy-MM-dd").as("p"))
      .agg(count(lit(1)), max(unix_micros(col("ts"))))
    val p = plan(planning)
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("text"), s"text must be pruned:\n$readSchema")
    assert(readSchema.contains("conv_id") && readSchema.contains("ts"))
  }

  test("extension-batch operators: exchange budgets hold (q74, q80-q83 scale contracts)") {
    import graft.operators.SeriesOps
    def exchanges(p: String): Int = "Exchange".r.findAllIn(p).size
    def windows(p: String): Int = "Window ".r.findAllIn(p).size

    // conv lifecycle: (conv, day) census exchange + the per-conv
    // summary exchange over the collapsed frame
    val pLife = plan(SeriesOps.convLifecycle(turns))
    assert(exchanges(pLife) == 2 && windows(pLife) == 0,
      s"conv lifecycle is census + collapsed summary exchange:\n$pLife")
    assert(pLife.contains("partial_count"),
      s"conv lifecycle needs map-side combine:\n$pLife")

    // tool pair correlation: the heavy (day, tool) census exchange
    // must be computed ONCE — the self-join's second grid subtree has
    // to resolve to ReusedExchange nodes in the post-execution
    // adaptive plan (static plans print self-joins duplicated; reuse
    // is a runtime stage decision, so this pin collects first)
    val dfPc = SeriesOps.toolPairCorrelation(turns)
    dfPc.collect()
    // the executed-plan string also echoes the pre-AQE initial plan —
    // judge the final section only
    val pPc = dfPc.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("ReusedExchange".r.findAllIn(pPc).size >= 3,
      s"pair-corr grid subtree must reuse, not recompute:\n$pPc")
    // the day-pairing self-join may stay sort-merge (the grid frame is
    // metadata-scale, days x toolbox) — what must NOT appear is a
    // nested-loop pairing of data-sized frames
    assert("SortMergeJoin".r.findAllIn(pPc).size <= 1,
      s"only the day-pairing self-join may sort-merge:\n$pPc")

    // binary split: cumsum + whole-series moments + the argmax window
    // all share ONE conv_id exchange, and the rank-1 filter pushes
    // down as a WindowGroupLimit
    val pBs = plan(SeriesOps.binarySplit(turns))
    assert(exchanges(pBs) == 1 && windows(pBs) == 3,
      s"binary split is cumsum + moments + argmax on one exchange:\n$pBs")
    assert(pBs.contains("WindowGroupLimit"),
      s"binary split argmax must push a group limit:\n$pBs")

    // tool cadence: lead window + quantile groupBy share ONE
    // (conv, tool) exchange (the twa clustering-reuse shape)
    val pTc = plan(SeriesOps.toolCadence(turns))
    assert(exchanges(pTc) == 1 && windows(pTc) == 1,
      s"tool cadence must be one exchange:\n$pTc")

    // term vocab growth: exactly ONE pass over raw text (one Generate
    // = one explode), then census exchange + term-clustered min-day
    // window exchange + day agg exchange + the single-partition
    // day-series cumsum — all four over collapsed frames, no join
    val pVg = plan(SeriesOps.termVocabGrowth(turns))
    assert("Generate ".r.findAllIn(pVg).size == 1,
      s"vocab growth must explode the text once:\n$pVg")
    assert(exchanges(pVg) == 4 && windows(pVg) == 2,
      s"vocab growth is census + term window + day agg + cumsum:\n$pVg")
    assert(!pVg.contains("Join"), s"vocab growth must not join:\n$pVg")
  }

  test("growth/concentration batch: exchange budgets hold (q88-q93 scale contracts)") {
    import graft.operators.SeriesOps
    def exchanges(p: String): Int = "Exchange".r.findAllIn(p).size
    def windows(p: String): Int = "Window ".r.findAllIn(p).size

    // daily Gini: (day, conv) census exchange + the day-clustered rank
    // window, whose partitioning the day reduction then REUSES (no
    // third exchange — the window's hashpartitioning(day) satisfies
    // the final groupBy)
    val pGini = plan(SeriesOps.dailyGini(turns))
    assert(exchanges(pGini) == 2 && windows(pGini) == 1,
      s"daily gini is census + day-clustered rank window:\n$pGini")
    assert(pGini.contains("partial_count"),
      s"gini census needs map-side combine:\n$pGini")

    // survival curve: per-conv census + length histogram + ONE
    // single-partition exchange serving both metadata-scale windows
    val pSurv = plan(SeriesOps.survivalCurve(turns))
    assert(exchanges(pSurv) == 3 && windows(pSurv) == 2,
      s"survival curve is census + histogram + one single-partition step:\n$pSurv")
    assert("SinglePartition".r.findAllIn(pSurv).size == 1,
      s"both windows must share one single-partition exchange:\n$pSurv")

    // active streaks: distinct (conv, day) census + conv-clustered
    // island window; BOTH downstream aggregations reuse the window's
    // conv_id clustering (subset-clustering satisfaction) — no more
    // exchanges
    val pStreak = plan(SeriesOps.activeStreaks(turns))
    assert(exchanges(pStreak) == 2 && windows(pStreak) == 1,
      s"active streaks is census + conv window, aggs reuse clustering:\n$pStreak")

    // new vs returning: distinct census + conv-clustered first-seen
    // window + day reduction + single-partition running sum
    val pNvr = plan(SeriesOps.newVsReturning(turns))
    assert(exchanges(pNvr) == 4 && windows(pNvr) == 2,
      s"new-vs-returning is census + conv window + day agg + cumsum:\n$pNvr")

    // tool adoption: (conv, tool) min-day census + the metadata-scale
    // (tool, day) reduction + per-tool running sum
    val pAdopt = plan(SeriesOps.toolAdoption(turns))
    assert(exchanges(pAdopt) == 3 && windows(pAdopt) == 1,
      s"tool adoption is census + adoption agg + tool window:\n$pAdopt")

    // daily dup rate: (day, md5) census + distinct-text-scale day
    // reduction — two exchanges, no windows, no joins
    val pDup = plan(SeriesOps.dailyDupRate(turns))
    assert(exchanges(pDup) == 2 && windows(pDup) == 0,
      s"dup rate is census + day reduction:\n$pDup")
    assert(!pDup.contains("Join"), s"dup rate must not join:\n$pDup")
    assert(pDup.contains("partial_count"),
      s"dup census needs map-side combine:\n$pDup")

    // conv burstiness: (conv, day) census + per-conv moment reduction
    val pFano = plan(SeriesOps.convBurstiness(turns))
    assert(exchanges(pFano) == 2 && windows(pFano) == 0,
      s"burstiness is census + conv moment reduction:\n$pFano")

    // char half-life: cumsum/position/total windows + the crossing
    // reduction ALL on one conv_id exchange
    val pHalf = plan(SeriesOps.charHalfLife(turns))
    assert(exchanges(pHalf) == 1,
      s"char half-life must be one conv exchange:\n$pHalf")

    // whale convs: census + day-clustered windows with the rank filter
    // pushed down as a group limit
    val pWhale = plan(SeriesOps.whaleConvsDaily(turns))
    assert(exchanges(pWhale) == 2,
      s"whale convs is census + day windows:\n$pWhale")
    assert(pWhale.contains("WindowGroupLimit"),
      s"whale rank filter must push a group limit:\n$pWhale")
  }

  test("concurrency/churn/records: single raw scan, zero joins, day-frame windows") {
    import graft.operators.SeriesOps
    def exchanges(p: String): Int = "Exchange".r.findAllIn(p).size

    // concurrency: conv span census + endpoint-event day reduction +
    // single-partition lead/cumsum windows; the naive grid-join form
    // re-scanned raw 3x and paid 2 joins — pin the event-stream shape
    val pConc = plan(SeriesOps.convConcurrency(turns))
    assert(exchanges(pConc) == 3,
      s"concurrency is census + event reduction + day windows:\n$pConc")
    assert(!pConc.contains("Join"), s"concurrency must not join:\n$pConc")
    assert(pConc.contains("partial_min"),
      s"span census needs map-side combine:\n$pConc")

    // churn: per-day collect_set + lag + array_intersect; the census
    // self-join form re-scanned raw 3x and paid 4 joins
    val pChurn = plan(SeriesOps.toolsetChurn(turns))
    assert(exchanges(pChurn) == 2,
      s"churn is set census + day window:\n$pChurn")
    assert(!pChurn.contains("Join"), s"churn must not join:\n$pChurn")
    assert(pChurn.contains("partial_collect_set"),
      s"day sets need map-side combine:\n$pChurn")

    // records: day census + running-max/cumsum windows, all on the
    // metadata-scale day frame
    val pRec = plan(SeriesOps.recordDays(turns))
    assert(exchanges(pRec) == 2,
      s"records is day census + day windows:\n$pRec")
    assert(!pRec.contains("Join"), s"records must not join:\n$pRec")
    assert(pRec.contains("partial_count"),
      s"day census needs map-side combine:\n$pRec")

    // lorenz: (day, conv) census + day-clustered ntile window; the
    // tile reduction and share windows REUSE the day clustering
    // (hash(day) satisfies grouping by (day, decile))
    val pLor = plan(SeriesOps.lorenzDeciles(turns))
    assert(exchanges(pLor) == 2,
      s"lorenz is census + one day clustering:\n$pLor")
    assert(!pLor.contains("Join"), s"lorenz must not join:\n$pLor")

    // drift: (day, bucket) census + per-day map reduction + lag +
    // constant-universe explode; the grid form paid 2 joins and
    // re-scanned raw 3x for the day/bucket distincts
    val pDrift = plan(SeriesOps.distDrift(turns))
    assert(exchanges(pDrift) == 3,
      s"drift is census + day maps + day window:\n$pDrift")
    assert(!pDrift.contains("Join"), s"drift must not join:\n$pDrift")
    assert(pDrift.contains("partial_collect_list"),
      s"day histograms need map-side combine:\n$pDrift")
  }

  test("term churn / TTR / shingle novelty / length histogram: census shapes, zero joins") {
    import graft.operators.SeriesOps
    def exchanges(p: String): Int = "Exchange".r.findAllIn(p).size

    // term churn: (day, term) census + day rank window + top-set
    // aggregation + lag; the rank <= k filter must push a group limit
    // in BOTH partial (pre-shuffle, task-parallel) and final modes
    val pTc = plan(SeriesOps.termChurnDaily(turns))
    assert(exchanges(pTc) == 3,
      s"term churn is census + day rank + day lag:\n$pTc")
    assert(!pTc.contains("Join"), s"term churn must not join:\n$pTc")
    assert("WindowGroupLimit".r.findAllIn(pTc).size == 2,
      s"rank cutoff must push partial+final group limits:\n$pTc")
    assert(pTc.contains("partial_collect_set"),
      s"top-set needs map-side combine:\n$pTc")

    // TTR: the same (day, term) census + day reduction — two
    // exchanges, no windows, no joins
    val pTtr = plan(SeriesOps.typeTokenRatio(turns))
    assert(exchanges(pTtr) == 2,
      s"TTR is census + day reduction:\n$pTtr")
    assert(!pTtr.contains("Join"), s"TTR must not join:\n$pTtr")
    assert(pTtr.contains("partial_count"),
      s"term census needs map-side combine:\n$pTtr")

    // novelty: (day, h28) census + first-seen hash window + day
    // reduction — hashes shuffle, never text
    val pNov = plan(SeriesOps.shingleNoveltyDaily(turns))
    assert(exchanges(pNov) == 3,
      s"novelty is census + hash window + day reduction:\n$pNov")
    assert(!pNov.contains("Join"), s"novelty must not join:\n$pNov")
    assert(pNov.contains("partial_count"),
      s"shingle census needs map-side combine:\n$pNov")

    // daily length histogram: ONE exchange, nothing else
    val pHist = plan(SeriesOps.lengthHistogramDaily(turns))
    assert(exchanges(pHist) == 1,
      s"histogram is one census exchange:\n$pHist")
    assert(!pHist.contains("Join"), s"histogram must not join:\n$pHist")
    assert(pHist.contains("partial_count"),
      s"histogram census needs map-side combine:\n$pHist")
  }

  test("daily cardinality: exact pays the Expand-dedup, the HLL++ sibling is one mergeable exchange") {
    import graft.operators.SeriesOps
    def exchanges(p: String): Int = "Exchange".r.findAllIn(p).size

    // exact multi-column DISTINCT: Catalyst's Expand + dedup — the
    // shape that does NOT partial-collapse map-side (why the sketch
    // sibling exists)
    val pEx = plan(SeriesOps.dailyCardinality(turns))
    assert(pEx.contains("Expand"),
      s"exact distinct plans via Expand:\n$pEx")

    // sketch: NO Expand, ONE exchange, and the HLL++ state must
    // partial-aggregate map-side (mergeable sketches — the 100 TB path)
    val pAp = plan(SeriesOps.dailyCardinalityApprox(turns))
    assert(!pAp.contains("Expand"),
      s"sketch must not Expand:\n$pAp")
    assert(exchanges(pAp) == 1,
      s"sketch is one day-keyed exchange of mergeable state:\n$pAp")
    assert(pAp.contains("partial_approx_count_distinct"),
      s"sketch must combine map-side:\n$pAp")
  }

  test("daily autocorr: census materialized once, lead-window pairing, no self-join") {
    import graft.operators.SeriesOps
    // the census localCheckpoint is a runtime effect — judge the
    // executed plan of the result
    val df = SeriesOps.dailyAutocorr(turns, maxLag = 3)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // both census references (min/max anchor + zero-fill join) must hit
    // the SAME checkpointed RDD — without the pin Catalyst re-scans raw
    // for the second reference. The executed string shows the
    // checkpoint scan (ExistingRDD) and, decisively, the RAW source
    // ZERO times (it was consumed once, inside the eager checkpoint
    // job, before this plan ran).
    assert(p.contains("ExistingRDD"),
      s"census must be checkpoint-materialized:\n$p")
    assert("Range \\(".r.findAllIn(p).isEmpty,
      s"raw input must not appear in the result plan:\n$p")
    // lag pairing is lead-windows + explode — a sort-merge self-join of
    // the grid would mean the window form regressed
    assert(!p.contains("SortMergeJoin"),
      s"autocorr must not self-join:\n$p")
  }

  test("tool lead-lag: census materialized once across its three references") {
    import graft.operators.SeriesOps
    val df = SeriesOps.toolLeadLag(turns, maxLag = 2)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the census feeds the range anchor, the toolbox distinct, and the
    // zero-fill join — all three must hit the checkpointed RDD so raw
    // is scanned exactly once (inside the eager checkpoint job, hence
    // absent from this result plan)
    assert(p.contains("ExistingRDD"),
      s"census must be checkpoint-materialized:\n$p")
    assert("Range \\(".r.findAllIn(p).isEmpty,
      s"raw input must not appear in the result plan:\n$p")
  }

}
