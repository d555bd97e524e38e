package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-behavior operators (SURVEY.md §2.1) re-expressed as
  * declarative Spark — each is a pure DataFrame → DataFrame function so
  * Catalyst prunes/pushes/codegens them; none needs a custom node.
  */
object RefOps {

  /** Op #3/#12 — typed parse + cast matrix with null-on-error.
    * The reference parses strings to typed values (`CsvColumn.java:79-115`)
    * and drops illegal conversions to null without failing the row
    * (`Converter.java:260-264`); narrowing casts get a precision-loss
    * flag (`Converter.java:166-195`). Every conversion here uses
    * `try_cast` — Spark 4 sessions default to ANSI, where a plain
    * `cast` THROWS on overflow/parse failure instead of nulling.
    */
  def typedCast(events: DataFrame): DataFrame =
    // regexp extraction per row with no downstream exchange: an
    // under-partitioned scan would run the whole pass on one core
    // (ScanSpread — no-op for large inputs)
    ScanSpread.spreadForCompute(events).select(
      col("event_id"),
      // STRING → INT where the string is numeric: json k-field
      expr("try_cast(regexp_extract(props, '\"k\": (\\\\d+)', 1) AS int)").as("k_int"),
      // STRING → INT on a non-numeric string: null, row survives
      // (ANSI session: plain cast would throw — try_cast IS the
      // reference's null-on-error, Converter.java:260-264)
      expr("try_cast(event_type AS int)").as("bad_int"),
      // DOUBLE → INT narrowing + precision-loss flag. try_cast, not
      // cast: this session class runs ANSI (Spark 4 default), where a
      // plain cast of |value| ≥ 2³¹ THROWS instead of the reference's
      // null-on-error (`Converter.java:260-264`) — overflow now nulls
      // value_int (a failed conversion, not a loss flag; the flag stays
      // null-propagating exactly like the oracle's)
      expr("try_cast(value AS int)").as("value_int"),
      (expr("try_cast(value AS int)").cast("double") =!= col("value")).as("precision_loss"),
      // DOUBLE → BOOLEAN-ish (reference allows numeric→boolean via != 0)
      (col("value") =!= 0.0).as("value_bool"))

  /** [[typedCast]] + precision-loss routing into the leveled log stream
    * (the reference computes the loss flag in `Converter.java:166-195`
    * and logs it at WARNING via `migration_logs`; the bare operator only
    * computed the column). ZERO extra actions: the loss count rides the
    * caller's OWN actions via `observe()` — a map-side aggregate inside
    * the existing pass (the previous form ran a separate
    * `filter(...).count()`, a second full scan of the cast output).
    *
    * Semantics, matching the reference's per-pass accounting (Converter
    * flags loss only for rows it actually converts):
    *
    *  - EVERY action over the returned frame that observes lossy rows
    *    writes one WARNING for the rows THAT pass scanned — a partial
    *    action (`show(5)`, `limit`) logs its partial count, the later
    *    full write logs the full one (the watcher stays live; it is
    *    NOT a log-once latch);
    *  - delivery is async (Spark's shared listener bus): the log row
    *    lands shortly AFTER the action returns — callers needing it
    *    synchronously poll the store (specs do);
    *  - a frame never acted on never logs, and costs one bounded map
    *    ENTRY, not a listener: the session carries ONE shared
    *    QueryExecutionListener however many frames are built
    *    (per-frame listeners would accumulate forever on failed or
    *    abandoned frames and each run on every query completion).
    */
  def typedCastLogged(events: DataFrame, state: graft.state.StateStore,
      jobId: String): DataFrame = {
    val out = typedCast(events)
    val seq = lossObsSeq.incrementAndGet()
    val name = s"$lossObsPrefix$seq"
    // bound the watcher map by evicting only entries OLDER than the
    // window (seq is embedded in the name) — never clear(): a full
    // clear would drop watchers for live in-flight frames wholesale,
    // while age-eviction loses at most the oldest frames' FUTURE
    // passes (bounded staleness; a frame acted on promptly always logs)
    if (lossWatchers.size >= maxLossWatchers) {
      val cutoff = seq - maxLossWatchers
      lossWatchers.keySet.removeIf(k =>
        k.stripPrefix(lossObsPrefix).toLong <= cutoff)
    }
    lossWatchers.put(name, (state, jobId))
    val spark = events.sparkSession
    // WeakHashMap keys: a stopped/discarded session must not be pinned
    // forever by this registry (its listener dies with the session)
    lossListenerSessions.synchronized {
      if (!lossListenerSessions.containsKey(spark)) {
        spark.listenerManager.register(lossListener)
        lossListenerSessions.put(spark, java.lang.Boolean.TRUE)
      }
    }
    // count(when(...)) never nulls on an empty frame, unlike sum()
    out.observe(name, count(when(col("precision_loss"), lit(1))).as("lossy"))
  }

  private val lossObsPrefix = "typed_cast_loss_"
  private val lossObsSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private val maxLossWatchers = 1024
  private val lossWatchers =
    new java.util.concurrent.ConcurrentHashMap[String, (graft.state.StateStore, String)]()
  private val lossListenerSessions =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]()

  /** The ONE shared listener: reacts only to queries whose observed
    * metrics carry a live `typed_cast_loss_*` watcher, no-op otherwise.
    */
  private object lossListener extends org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith(lossObsPrefix)) {
          val watcher = lossWatchers.get(name)
          if (watcher != null) {
            val (state, jobId) = watcher
            val lossy = row.getAs[Long]("lossy")
            if (lossy > 0)
              state.log("WARNING", "ingest",
                s"$lossy value(s) lost precision in DOUBLE->INT narrowing", jobId)
          }
        }
      }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        ex: Exception): Unit = ()
  }

  /** Op #4 — timestamp normalization, both reference formats:
    * UNIX seconds ×1000 → millis (`CsvColumn.java:121`) and ISO-8601
    * parse pinned to UTC (`CsvColumn.java:123-126`).
    */
  def timeNormalize(events: DataFrame): DataFrame = {
    val sec = col("ts").cast("timestamp") // session TZ = UTC
    // no ScanSpread (same-phase A/B: timestamp format round-trips are
    // cheaper than the spread exchange here, unlike typedCast's regexp)
    events.select(
      col("event_id"),
      unix_seconds(date_trunc("second", sec)).as("unix_sec"),
      timestamp_millis(unix_seconds(date_trunc("second", sec)) * 1000)
        .cast("timestamp_ntz").as("ts_from_unix"),
      to_timestamp(
        date_format(sec, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").cast("timestamp_ntz").as("ts_from_iso"))
  }

  /** Op #5 — deterministic stable row id:
    * sha256(`settingId:path:rowNumber`) (`CSVReader.java:335-346`),
    * keyed here by the natural key. Hex form (both engines agree on
    * lowercase hex sha256).
    */
  def rowId(transcripts: DataFrame, settingId: String = "42"): DataFrame =
    transcripts.select(
      col("conv_id"),
      col("turn_idx"),
      sha2(concat_ws(":", lit(settingId), col("conv_id"), col("turn_idx")), 256)
        .as("row_id"))

  /** Op #8 — failed-row replay: on resume keep only rows whose key is
    * in the failed set (`CSVReader.java:184-186`). The failed set is
    * small ⇒ broadcast LEFT SEMI — no shuffle of the big side.
    */
  def replaySemiJoin(transcripts: DataFrame, failedKeys: DataFrame): DataFrame =
    transcripts.join(
      broadcast(failedKeys), Seq("conv_id", "turn_idx"), "left_semi")

  /** Ops #9/#10/#11 — per-device fan-out + path construction + joinKey
    * rename (`Converter.java:87-155`): each row fans to a static device
    * (`root.metrics`) and a dynamic device segmented by the `tool`
    * column; a null path value fails the row FOR THAT DEVICE only
    * (`Converter.java:128-131`) — expressed as explode + filter.
    */
  def deviceFanout(transcripts: DataFrame): DataFrame =
    transcripts
      .select(
        col("conv_id"), col("turn_idx"),
        explode(array(
          concat(lit("root.metrics."), col("conv_id")),
          when(col("tool").isNotNull,
            concat(lit("root.tools."), col("conv_id"), lit("."), col("tool")))
        )).as("device_path"),
        length(col("text")).cast("long").as("char_len"))
      .filter(col("device_path").isNotNull)

  /** Op #20 — top-1 per group (latest job per setting,
    * `JobsDAO.java:147-157`): deterministic via total order
    * (ts desc, event_id desc).
    */
  def latestPerKey(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts"))
  }

  /** Top-K per key — the general form of [[latestPerKey]] (top-1): the
    * k most recent events per user with their rank. Same shape —
    * row_number over one key exchange; the window's per-partition sort
    * streams with rank filtering, so memory stays O(run), not O(group),
    * and the tie-break (ts desc, event_id desc) makes the selection
    * deterministic. The heavy-hitters pattern every retention/N-best
    * report uses.
    */
  def topKPerKey(events: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("user_id"), col("event_id"), col("ts"), col("rank"))
  }

  /** [[topKPerKey]]'s bounded-state sibling — SAME semantics (hash-
    * exact against the same QUALIFY oracle), different physics. The
    * window form shuffles EVERY row of a key to one task; a hot key
    * arrives whole. This form aggregates with
    * [[graft.functions.BoundedTopK]] (a mergeable k-item summary), so
    * partials combine map-side and the exchange carries at most
    * k × partitions rows per key regardless of key heat — the skew
    * answer is the algebra, not salting. Use the window form when rows
    * are wide and keys balanced (no re-materialization); use this one
    * when keys skew or only the k survivors matter.
    *
    * `ts` round-trips through `unix_micros` (the aggregator orders
    * longs) and is restored to the INPUT's own timestamp type via the
    * session-UTC cast — bit-identical for both timestamp and the
    * engine's canonical timestamp-ntz.
    */
  def topKPerKeyAgg(events: DataFrame, k: Int): DataFrame = {
    TimeArith.requireUtcForNtz(events, "ts")
    val tsType = events.schema("ts").dataType
    events
      .groupBy(col("user_id"))
      .agg(graft.functions.BoundedTopK(k)(
        unix_micros(col("ts").cast("timestamp")),
        col("event_id").cast("long")).as("top"))
      .select(col("user_id"), posexplode(col("top")).as(Seq("_pos", "_item")))
      .select(
        col("user_id"),
        col("_item.ord2").as("event_id"),
        timestamp_micros(col("_item.ord1")).cast(tsType).as("ts"),
        (col("_pos") + 1).cast("int").as("rank"))
  }

  /** Counter rate with reset semantics — the timeseries tier's
    * derivative operator (the PromQL `rate()` / IoTDB `non_negative_derivative`
    * analogue) over a cumulative counter column: per key, ordered by
    * (ts, event_id), the per-second increase since the previous
    * sample. A counter DROP means the source restarted (the
    * reference's `processed_rows` counters restart with the process,
    * `CsvSettingsDAO.java:72-91`); the post-reset value IS the
    * increase since the reset — the standard monotone-counter recovery
    * rule. First sample per key and duplicate-timestamp samples yield
    * null (no interval / zero interval). MICROSECOND arithmetic like
    * the other time operators, in DOUBLE exactly mirroring the oracle
    * expression order so the division is bit-identical.
    *
    * Shape: ONE exchange on the key; the window's per-partition sort
    * streams lag + the division — map-side after the exchange, no
    * second shuffle.
    */
  def counterRate(events: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(events, "ts")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val dtUs = unix_micros(col("ts").cast("timestamp")) -
      unix_micros(col("_prev_ts").cast("timestamp"))
    events
      .withColumn("_prev_value", lag(col("value"), 1).over(w))
      .withColumn("_prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("rate_per_sec",
        when(col("_prev_ts").isNull || dtUs <= 0, lit(null).cast("double"))
          .otherwise(
            when(col("value") >= col("_prev_value"), col("value") - col("_prev_value"))
              .otherwise(col("value")) /
            (dtUs.cast("double") / lit(1000000.0))))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("rate_per_sec"))
  }

  /** Min-max downsampling — the timeseries tier's rendering/archive
    * reducer: per (key, window) keep the extreme SAMPLES (full rows,
    * not just aggregates — "which event was the spike" survives),
    * the downsample monitoring systems actually draw. Deterministic
    * tiebreak by event_id. One partial-aggregated exchange (min_by/
    * max_by combine map-side), so the reduction is ~2 rows per (key,
    * window) regardless of input density — the operator that makes a
    * 10^12-point series renderable.
    */
  def downsampleMinMax(events: DataFrame, windowExpr: String = "1 hour"): DataFrame = {
    TimeArith.requireUtcForNtz(events, "ts")
    val sample = struct(col("event_id"), col("ts"), col("value"))
    // null samples carry no magnitude — excluded BEFORE aggregation
    // (Spark's struct ordering would sort them FIRST and elect a null
    // row as the window minimum, while SQL's ORDER BY defaults them
    // LAST; filtering pins one semantics and the oracle mirrors it)
    val agged = events.filter(col("value").isNotNull)
      .groupBy(col("user_id"), window(col("ts"), windowExpr).as("w"))
      .agg(
        min_by(sample, struct(col("value"), col("event_id"))).as("mn"),
        max_by(sample, struct(col("value"), col("event_id"))).as("mx"))
    agged.select(col("user_id"), col("w.start").as("window_start"),
        explode(array(
          struct(lit("min").as("kind"), col("mn").as("s")),
          struct(lit("max").as("kind"), col("mx").as("s")))).as("e"))
      .select(col("user_id"), col("window_start"), col("e.kind").as("kind"),
        col("e.s.event_id").as("event_id"), col("e.s.ts").as("ts"),
        col("e.s.value").as("value"))
  }

  /** Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013 —
    * the algorithm behind most monitoring-dashboard series rendering),
    * fixed-anchor variant: per (key, window) keep the SAMPLE whose
    * triangle with the PREVIOUS and NEXT windows' mean points has the
    * largest area — the point that preserves the most visual
    * information, where [[downsampleMinMax]] keeps the extremes. The
    * classic sequential form anchors on the previously SELECTED point
    * (an inherently serial chain); the fixed-anchor variant anchors
    * both sides on bucket means, which is the standard parallel
    * decomposition (each bucket decides independently) and the one a
    * 10¹²-point input permits. Endpoints: the first and last sample
    * per key are always kept (kinds 'first'/'last'); interior buckets
    * (both neighbors observed) each contribute one 'lttb' row.
    *
    * Exactness: twice-the-area comparisons run on SCALED INTEGERS —
    * timestamps as bucket-relative µs (x′ = ts − bucket_start, so sums
    * never carry epoch magnitudes), values as exact cents via
    * DECIMAL(14,2)·100 (the driver's `value` column is 2-decimal fixed
    * point; the double→decimal cast rounds to the same cent in both
    * engines), and the mean-anchor denominators cleared by multiplying
    * through by n_prev·n_next:
    * `A = Sx′p·nn − Sx′n·np`, `B = y·nn − Syn`,
    * `C = x′·nn − Sx′n`,    `D = Syp·nn − Syn·np`,
    * `area2·np·nn² = |A·B − C·D|` — DECIMAL(38,0) here, HUGEINT in the
    * oracle, both exact (magnitudes ≤ ~1e29 at million-row buckets;
    * scale-0 decimals cannot round, only overflow at 1e38). Argmax
    * tiebreak: smallest event_id.
    *
    * Scale: one partial-aggregated census exchange (3 sums per
    * bucket), a bucket-grain lag/lead window over the COLLAPSED
    * census, one (key, bucket) exchange of the sample rows for the
    * neighbor join, then NO sorts: the per-bucket argmax is a
    * `min_by` hash aggregation on the join's own partitioning (key:
    * (−area, event_id), unique because event_id is), and the
    * endpoints are ONE key-grain `min_by`/`max_by` aggregation that
    * partial-aggregates map-side — 2 rows per key cross the wire
    * where a window form would sort the full input twice. The
    * reduction is 1 row per interior bucket + 2 per key, independent
    * of input density. (First form used rank windows: measured 99 s
    * vs 17 s for the 1m-rollup control on the same 57M rows — three
    * full-input sorts; the aggregation form removes all of them.)
    *
    * Measured dead end, do not revisit: folding the endpoint payload
    * partials INTO the census agg (per-bucket min_by/max_by structs,
    * endpoints reduced from the collapsed census — "one fewer scan")
    * regresses 65 → 83 s at local[8] and 20 → 37 s at local[32], with
    * or without a localCheckpoint on the shared census. The struct
    * buffers demote the census HashAggregate to a full-input
    * SortAggregate, which costs more than the endpoints' own
    * partial-aggregated pass over the (storage-cached) input ever did.
    */
  def lttbDownsample(events: DataFrame, windowExpr: String = "1 hour"): DataFrame = {
    TimeArith.requireUtcForNtz(events, "ts")
    val usC = unix_micros(col("ts").cast("timestamp"))
    // NO ScanSpread here, by measurement: the per-point map prefix is
    // cheap casts (unlike the regexp/hash passes that earn the spread),
    // and inserting the exchange ahead of three consumers measured
    // ~1.5× SLOWER same-phase than letting each branch re-read the
    // (pushdown-pruned) scan
    val pts = events
      // null value has no place on the y axis ([[downsampleMinMax]]
      // doctrine); null ts none on the x axis. window_start rides as
      // epoch µs only (`_bus`) and is re-materialized at the output
      // projections — one long through the shuffles, not a second
      // timestamp
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        unix_micros(window(col("ts"), windowExpr).getField("start")
          .cast("timestamp")).as("_bus"),
        usC.as("_us"),
        (col("value").cast("decimal(14,2)") * 100).cast("long").as("_yc"))
      .withColumn("_xr", col("_us") - col("_bus"))
      .drop("_us")
    val census = pts
      .groupBy(col("user_id"), col("_bus"))
      .agg(count(lit(1)).as("n"),
        sum(col("_xr").cast("decimal(38,0)")).as("sx"),
        sum(col("_yc").cast("decimal(38,0)")).as("sy"))
    val wB = Window.partitionBy(col("user_id")).orderBy(col("_bus"))
    val nb = census.select(col("user_id"), col("_bus"),
      lag(col("_bus"), 1).over(wB).as("tp"),
      lag(col("n"), 1).over(wB).as("np"),
      lag(col("sx"), 1).over(wB).as("sxp"),
      lag(col("sy"), 1).over(wB).as("syp"),
      lead(col("_bus"), 1).over(wB).as("tn"),
      lead(col("n"), 1).over(wB).as("nn"),
      lead(col("sx"), 1).over(wB).as("sxn"),
      lead(col("sy"), 1).over(wB).as("syn"))
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    // neighbor x-sums rebased to THIS bucket's start: Σxᵢ − n·T_k =
    // S_own + n·(T_own − T_k), so anchor algebra never sees epoch µs
    val sxpRel = col("sxp") + d38(col("np")) * d38(col("tp") - col("_bus"))
    val sxnRel = col("sxn") + d38(col("nn")) * d38(col("tn") - col("_bus"))
    val a = sxpRel * d38(col("nn")) - sxnRel * d38(col("np"))
    val bT = d38(col("_yc")) * d38(col("nn")) - col("syn")
    val cT = d38(col("_xr")) * d38(col("nn")) - sxnRel
    val dT = col("syp") * d38(col("nn")) - col("syn") * d38(col("np"))
    val area2 = abs(a * bT - cT * dT)
    val payload = struct(col("event_id"), col("ts"), col("value"))
    val interior = pts
      .join(nb.filter(col("tp").isNotNull && col("tn").isNotNull),
        Seq("user_id", "_bus"))
      .groupBy(col("user_id"), col("_bus"))
      // argmax as min_by over (−area, event_id): unique key (event_id
      // is), so the pick is deterministic — max area, ties to the
      // smallest event_id. Hash agg on the join's own (key, bucket)
      // partitioning: no exchange, no sort
      .agg(min_by(payload, struct((-area2).as("na"), col("event_id")))
        .as("p"))
      .select(col("user_id"),
        timestamp_micros(col("_bus")).as("window_start"),
        lit("lttb").as("kind"),
        col("p.event_id").as("event_id"), col("p.ts").as("ts"),
        col("p.value").as("value"))
    val endpoints = pts
      .groupBy(col("user_id"))
      // (ts, event_id) is a total order; 2 rows per key cross the wire
      .agg(
        min_by(struct(col("_bus"), col("event_id"), col("ts"), col("value")),
          struct(col("ts"), col("event_id"))).as("f"),
        max_by(struct(col("_bus"), col("event_id"), col("ts"), col("value")),
          struct(col("ts"), col("event_id"))).as("l"))
      .select(col("user_id"), explode(array(
        struct(lit("first").as("kind"), col("f").as("p")),
        struct(lit("last").as("kind"), col("l").as("p")))).as("e"))
      .select(col("user_id"),
        timestamp_micros(col("e.p._bus")).as("window_start"),
        col("e.kind").as("kind"),
        col("e.p.event_id").as("event_id"), col("e.p.ts").as("ts"),
        col("e.p.value").as("value"))
    interior.unionByName(endpoints)
  }

  /** Time-weighted average turn length per conversation — the
    * irregular-sampling average (TimescaleDB `time_weight` analogue):
    * each turn's length is weighted by how long it "held" (µs until
    * the next turn in the stable (ts, turn_idx) order); the last turn
    * carries no duration and is excluded, so a single-turn
    * conversation yields no row. Weights and products are summed as
    * DECIMAL(38,0) — a long sum of char_len × µs overflows at ~30
    * year-long gaps on 10k-char turns, and this engine runs ANSI mode
    * where that throws (DuckDB's HUGEINT sum is exact, so the oracle
    * would diverge exactly when it matters). The group sums are EXACT
    * and order-independent; the one double division happens after
    * aggregation, making the result hash-stable across engines.
    * Scale: one window pass (the conv_id exchange) + one partial-
    * aggregated groupBy on the same key — AQE coalesces the pair.
    */
  def timeWeightedAvg(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val w = Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("turn_idx"))
    // µs arithmetic over an explicit timestamp cast — the driver parquet
    // is TIMESTAMP_NTZ, which unix_micros refuses; the session is pinned
    // UTC so NTZ→LTZ is identity-valued (same idiom as Sessionize)
    val tsUs = unix_micros(col("ts").cast("timestamp"))
    val withDt = transcripts
      // a NULL length is a MISSING sample: drop it before the lead so
      // the previous turn holds across the gap (the LOCF semantic) —
      // keeping it would add its duration to the denominator with no
      // numerator weight, silently deflating the average. Null ts has
      // no place on the time axis and null turn_idx cannot tiebreak
      // the window order (Spark sorts NULL first, DuckDB last — a tied
      // ts would pair different leads across engines); both drop, the
      // family doctrine every other ordered operator applies.
      .filter(col("text").isNotNull && col("ts").isNotNull &&
        col("turn_idx").isNotNull)
      .withColumn("char_len", length(col("text")).cast("long"))
      .withColumn("dt_us", lead(tsUs, 1).over(w) - tsUs)
      .filter(col("dt_us").isNotNull)
    withDt
      .groupBy(col("conv_id"))
      .agg(
        // (10,0)×(20,0) → decimal(31,0) products, summed at (38,0):
        // exact to 1e38, far past any reachable timestamp arithmetic
        sum(col("char_len").cast("decimal(10,0)") *
          col("dt_us").cast("decimal(20,0)")).as("_wsum"),
        sum(col("dt_us").cast("decimal(20,0)")).as("_tsum"))
      .select(
        col("conv_id"),
        // all-zero durations (every turn at the same instant) would be
        // 0/0 — NaN in Spark, NULL in ANSI SQL; pin NULL
        when(col("_tsum") === 0, lit(null).cast("double"))
          .otherwise(col("_wsum").cast("double") / col("_tsum").cast("double"))
          .as("twa_char_len"))
  }

  /** Rolling z-score anomaly detection over turn length — flags turns
    * whose length deviates from the conversation's trailing window
    * (monitoring-style outlier detection on the timeseries). The
    * trailing frame EXCLUDES the current row (self-exclusion keeps a
    * spike from masking itself). mean/variance are derived from EXACT
    * integer frame sums (n, Σx, Σx²) — the double arithmetic is one
    * fixed expression over identical integers in both engines, so the
    * z-score is hash-stable (the Welford-vs-textbook difference that
    * makes `stddev` windows engine-dependent never arises). Warm-up
    * rows (frame < `minPoints`) and zero-variance frames yield NULL.
    * Scale: one conv_id exchange; the frame is O(lookback) per row.
    */
  def rollingZscore(transcripts: DataFrame, lookback: Int = 10,
      minPoints: Int = 8, threshold: Double = 2.0): DataFrame = {
    require(lookback >= 2, s"lookback must be >= 2, got $lookback")
    require(minPoints >= 2 && minPoints <= lookback,
      s"minPoints must be in [2, lookback], got $minPoints")
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      .rowsBetween(-lookback, -1)
    // the square is projected BEFORE the window so all three frame
    // aggregates land in ONE Window node (an inline char_len*char_len
    // inside the third agg forces a Project between Window nodes,
    // which defeats CollapseWindow — measured as a second full frame
    // pass over every row)
    val base = transcripts.select(
      col("conv_id"), col("turn_idx"),
      length(col("text")).cast("long").as("char_len"))
      .withColumn("_sq", col("char_len") * col("char_len"))
    val framed = base.select(col("conv_id"), col("turn_idx"), col("char_len"),
      count(col("char_len")).over(w).as("_n"),
      sum(col("char_len")).over(w).as("_s"),
      sum(col("_sq")).over(w).as("_ss"))
    val n = col("_n").cast("double")
    val mean = col("_s").cast("double") / n
    val variance =
      (col("_ss").cast("double") - col("_s").cast("double") * col("_s").cast("double") / n) /
        (n - lit(1.0))
    // sqrt over a null-guarded variance: a (numerically) non-positive
    // variance must not reach sqrt (NaN vs error across engines)
    val z = (col("char_len").cast("double") - mean) /
      sqrt(when(variance > 0, variance))
    val warm = col("_n") >= minPoints && variance > 0
    framed.select(
      col("conv_id"), col("turn_idx"), col("char_len"),
      when(warm, round(z, 6)).as("zscore"),
      when(warm, abs(z) > threshold).as("is_anomaly"))
  }

  /** Per-conversation length-drift correlation — Pearson r between
    * turn position and turn length ("do turns get longer as the
    * conversation goes on?"). Like [[rollingZscore]], the moments are
    * EXACT integer group sums (n, Σx, Σy, Σxy, Σx², Σy² — bounded by
    * ~1e17 for 100k-turn conversations of 10k-char turns, inside Long)
    * and the correlation is ONE fixed double expression over those
    * identical integers in both engines, so the result is hash-stable
    * despite the sqrt. Degenerate groups (n < 3, zero variance on
    * either axis) pin NULL. Scale: a single partial-aggregated conv_id
    * exchange; output is one row per conversation.
    */
  def lengthDriftCorr(transcripts: DataFrame): DataFrame = {
    val s = transcripts
      .select(col("conv_id"),
        col("turn_idx").cast("long").as("x"),
        length(col("text")).cast("long").as("y"))
      // a NULL on EITHER axis must drop the whole OBSERVATION:
      // null-skipping sums with a count(*)-style n would mix moments
      // over different row sets and corrupt r (sign flips included) —
      // x (turn_idx) nulls are exactly as corrupting as y nulls
      .filter(col("x").isNotNull && col("y").isNotNull)
    pearsonFromMoments(s, nName = "n", outName = "drift_corr")
  }

  /** Shared guarded Pearson pipeline over a (conv_id, x:long, y:long)
    * frame — the exactness-critical formula [[lengthDriftCorr]] and
    * [[lagAutocorr]] both rely on: exact integer group moments
    * (n, Σx, Σy, Σxy, Σx², Σy²), then ONE fixed double expression whose
    * operand order both operators' DuckDB oracles mirror verbatim.
    * Degenerate groups (n < 3, zero variance on either axis) pin NULL.
    * Any change here changes BOTH operators' cross-engine hash
    * guarantees — keep the oracle SQL in SparkEntry in lockstep.
    */
  private def pearsonFromMoments(xy: DataFrame, nName: String,
      outName: String): DataFrame = {
    val m = xy.groupBy(col("conv_id")).agg(
      count(lit(1)).as(nName),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val n = col(nName).cast("double")
    val cov = n * col("sxy") - col("sx").cast("double") * col("sy")
    val vx = n * col("sxx") - col("sx").cast("double") * col("sx")
    val vy = n * col("syy") - col("sy").cast("double") * col("sy")
    m.select(
      col("conv_id"), col(nName),
      when(col(nName) >= 3 && vx > 0 && vy > 0,
        round(cov / sqrt(vx * vy), 6)).as(outName))
  }

  /** Per-conversation OLS linear trend of turn length over turn
    * position — slope, intercept, and R², the classical-fit complement
    * to [[graft.operators.SeriesOps.theilSenSlope]] (robust slope, no
    * intercept/fit-quality) and [[lengthDriftCorr]] (direction
    * strength only): slope says how fast turns grow/shrink, intercept
    * anchors the fit, R² says whether a line explains the series at
    * all. Same exactness discipline as [[pearsonFromMoments]]: exact
    * integer group moments, then fixed double expressions whose
    * operand order the oracle mirrors verbatim; the intercept uses the
    * UNROUNDED slope (rounding feeds only the projection). Degenerate
    * groups (n < 3, zero x-variance; R² additionally needs y-variance)
    * pin NULL. Null on either axis drops the observation
    * ([[lengthDriftCorr]] doctrine).
    *
    * Plan: ONE conv exchange, moments partial-aggregated map-side.
    */
  def olsTrend(transcripts: DataFrame): DataFrame = {
    val s = transcripts
      .select(col("conv_id"),
        col("turn_idx").cast("long").as("x"),
        length(col("text")).cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val m = s.groupBy(col("conv_id")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val n = col("n").cast("double")
    val cov = n * col("sxy") - col("sx").cast("double") * col("sy")
    val vx = n * col("sxx") - col("sx").cast("double") * col("sx")
    val vy = n * col("syy") - col("sy").cast("double") * col("sy")
    m.select(
      col("conv_id"), col("n"),
      when(col("n") >= 3 && vx > 0, round(cov / vx, 6)).as("slope"),
      when(col("n") >= 3 && vx > 0,
        round((col("sy").cast("double") - (cov / vx) *
          col("sx").cast("double")) / n, 6)).as("intercept"),
      when(col("n") >= 3 && vx > 0 && vy > 0,
        round((cov * cov) / (vx * vy), 6)).as("r2"))
  }

  /** Exponentially-weighted moving average of turn length per
    * conversation — the inherently SEQUENTIAL recurrence
    * `acc = α·x + (1−α)·acc` (seeded with the first sample) that no
    * window frame can express. Computed declaratively: the group's
    * samples are gathered into one ordered array and folded with
    * `functions.aggregate` — the exact same fold DuckDB's
    * `list_reduce` runs, in the same order, with the same
    * constant-folded `(1.0 − α)` IEEE literal, so the chained float
    * result is bit-identical across engines. Null text / null ts /
    * null turn_idx are missing samples (dropped, [[timeWeightedAvg]]
    * semantics). Input contract: (conv_id, turn_idx) unique — the
    * transcripts invariant; on duplicate (ts, turn_idx) keys Spark's
    * struct sort would tiebreak by VALUE while SQL ORDER BY leaves
    * ties nondeterministic, so the fold order is only defined when the
    * key is unique.
    * Scale: ONE conv_id exchange; per-group state is the O(turns)
    * sample array — the same envelope as the Gorilla block aggregator,
    * bounded by conversation length, NOT for unbounded keys.
    */
  def ewma(transcripts: DataFrame, alpha: Double = 0.3): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    orderedLenArray(transcripts, byEventTime = true).select(
      col("conv_id"), col("n"),
      aggregate(
        slice(col("vals"), lit(2), (col("n") - 1).cast("int")),
        element_at(col("vals"), lit(1)),
        (acc, x) => lit(alpha) * x + (lit(1.0) - lit(alpha)) * acc)
        .as("ewma_char_len"))
  }

  /** Shared ordered-array gather for the fold-based smoothers
    * ([[ewma]], [[holtSmooth]]): per conversation, the turn lengths as
    * one sorted double array plus the sample count, on ONE conv_id
    * exchange. Two ordering variants — they are NOT the same
    * observation set: `byEventTime = true` (ewma) orders by
    * (ts, turn_idx) and drops null-ts rows; `byEventTime = false`
    * (holt) orders by the canonical turn_idx invariant alone, so a
    * null ts is irrelevant and KEPT. In both, null text and null
    * turn_idx drop the whole observation — turn_idx participates in
    * the ORDER, and a null there would sort nulls-first in Spark's
    * struct compare but nulls-last in SQL ORDER BY.
    * The values array is materialized in its OWN projection:
    * lambda-bearing higher-order functions are exempt from both
    * subexpression elimination and CollapseProject's inlining, so
    * `transform` really runs once even when several downstream
    * expressions consume `vals`.
    */
  private def orderedLenArray(transcripts: DataFrame,
      byEventTime: Boolean): DataFrame = {
    val missing =
      if (byEventTime)
        col("text").isNotNull && col("ts").isNotNull && col("turn_idx").isNotNull
      else col("text").isNotNull && col("turn_idx").isNotNull
    val v = length(col("text")).cast("double").as("v")
    val key =
      if (byEventTime) struct(col("ts"), col("turn_idx"), v)
      else struct(col("turn_idx"), v)
    transcripts
      .filter(missing)
      .select(col("conv_id"), key.as("p"))
      .groupBy(col("conv_id"))
      .agg(sort_array(collect_list(col("p"))).as("ps"),
        count(lit(1)).as("n"))
      .select(col("conv_id"), col("n"),
        expr("transform(ps, p -> p.v)").as("vals"))
  }

  /** CUSUM changepoint detection over turn length per conversation —
    * the classic two-sided Page cumulative-sum monitor
    * `s⁺ᵢ = max(0, s⁺ᵢ₋₁ + (xᵢ − μ − k))`,
    * `s⁻ᵢ = max(0, s⁻ᵢ₋₁ + (μ − xᵢ − k))` with the whole-series mean
    * as the target μ (retrospective changepoint detection) and an
    * alarm when either side exceeds `threshold`.
    *
    * The clamped recurrence looks inherently sequential, but it has
    * the standard max-plus closed form
    * `s⁺ᵢ = Sᵢ − min(0, min_{j≤i} Sⱼ)` over the plain cumulative sum
    * `Sᵢ = Σ_{t≤i} dₜ` — a running sum plus a running min, both plain
    * window frames, NO fold needed (unlike [[ewma]], whose recurrence
    * has no such form). All state is integer, scaled by n to keep the
    * mean exact: `dᵢ = n·xᵢ − Σx − n·k`, so s⁺/s⁻ are EXACT longs in
    * both engines and the only doubles are one final division and the
    * alarm compare stays pure-integer (`s > n·threshold`) — the
    * hash-stability idiom of [[rollingZscore]]. Bounds: the scaled
    * cumsum is ≤ n²·max_len, inside Long for million-turn
    * conversations of 10k-char turns (~1e16).
    *
    * Null text / null turn_idx drop the whole observation
    * ([[lengthDriftCorr]] semantics: a missing sample must not shift
    * the mean or occupy a position in the recurrence). Fold order is
    * defined by the transcripts (conv_id, turn_idx) uniqueness
    * invariant, as in [[ewma]].
    *
    * Scale: ONE conv_id exchange — the unordered total-frame window
    * and the two ordered running frames share the partitioning, so the
    * three Window nodes plan over a single shuffle with one sort.
    * Frames are O(1) state per row; nothing is collected.
    */
  def cusumChangepoint(transcripts: DataFrame, slack: Long = 1L,
      threshold: Long = 3L): DataFrame = {
    // both tunables are in CHAR units (turn lengths); the 1e6 cap keeps
    // every n-scaled product inside the documented Long envelope
    // (n²·(max_len + slack) ≲ 1e18 for million-turn conversations) —
    // without it a huge SQL literal would surface as a bare ANSI
    // ARITHMETIC_OVERFLOW mid-query instead of an analysis-time error
    val cap = 1000000L
    require(slack >= 0L && slack <= cap,
      s"slack must be in [0, $cap] (char units), got $slack")
    require(threshold > 0L && threshold <= cap,
      s"threshold must be in (0, $cap] (char units), got $threshold")
    // the totals are order-independent, but declaring them on the SAME
    // (partition, order) spec as the running frames — with an
    // unbounded-both-ways frame — lets every Window node share ONE
    // sort; a bare partitionBy would satisfy its ordering with a
    // conv_id-only sort and force a second (conv_id, turn_idx) sort
    // for the running frames (measured: two Sort nodes)
    val wAll = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRun = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = transcripts
      .filter(col("text").isNotNull && col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"),
        length(col("text")).cast("long").as("char_len"))
    val deltas = base.select(
      col("conv_id"), col("turn_idx"), col("char_len"),
      count(lit(1)).over(wAll).as("_n"),
      sum(col("char_len")).over(wAll).as("_sx"))
      .select(col("conv_id"), col("turn_idx"), col("char_len"), col("_n"),
        (col("_n") * col("char_len") - col("_sx") - col("_n") * lit(slack))
          .as("_dpos"),
        (col("_sx") - col("_n") * col("char_len") - col("_n") * lit(slack))
          .as("_dneg"))
    val cums = deltas.select(
      col("conv_id"), col("turn_idx"), col("char_len"), col("_n"),
      sum(col("_dpos")).over(wRun).as("_cp"),
      sum(col("_dneg")).over(wRun).as("_cn"))
    val clamped = cums.select(
      col("conv_id"), col("turn_idx"), col("char_len"), col("_n"),
      (col("_cp") - least(lit(0L), min(col("_cp")).over(wRun))).as("_spos"),
      (col("_cn") - least(lit(0L), min(col("_cn")).over(wRun))).as("_sneg"))
    clamped.select(
      col("conv_id"), col("turn_idx"), col("char_len"),
      round(col("_spos").cast("double") / col("_n").cast("double"), 6)
        .as("cusum_pos"),
      round(col("_sneg").cast("double") / col("_n").cast("double"), 6)
        .as("cusum_neg"),
      (col("_spos") > col("_n") * lit(threshold) ||
        col("_sneg") > col("_n") * lit(threshold)).as("is_change"))
  }

  /** Lag-k autocorrelation of turn length per conversation — the
    * serial-correlation estimator `corr(xₜ, xₜ₋ₖ)` over the valid
    * pairs ("is a long turn followed by a long turn?"), the Pearson
    * form over lagged pairs rather than the textbook ACF (which shares
    * one mean/variance across lags; the pair form keeps every moment a
    * plain integer sum — the [[lengthDriftCorr]] exactness idiom, no
    * decimal widening needed since products stay ≤ max_len², ~1e8).
    * The lag window and the moment aggregation share the conv_id
    * partitioning — ONE exchange ([[timeWeightedAvg]] plan shape).
    * Degenerate groups (fewer than 3 pairs, zero variance on either
    * side) pin NULL; null text / null turn_idx drop the whole
    * observation BEFORE pairing, so the lag spans the gap (the
    * missing-sample semantics of the sibling operators).
    */
  def lagAutocorr(transcripts: DataFrame, lagK: Int = 1): DataFrame = {
    require(lagK >= 1 && lagK <= 100000,
      s"lagK must be in [1, 100000], got $lagK")
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val pairs = transcripts
      .filter(col("text").isNotNull && col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"),
        length(col("text")).cast("long").as("y"))
      .withColumn("x", lag(col("y"), lagK).over(w))
      .filter(col("x").isNotNull)
    pearsonFromMoments(pairs, nName = "n_pairs", outName = "autocorr")
  }

  /** MAD-based robust outlier flags on turn length per conversation —
    * the Iglewicz-Hoaglin modified z-score
    * `z = 0.6745·(x − median) / MAD` with the standard 3.5 cutoff: the
    * robust sibling of [[rollingZscore]] (a single genuine spike
    * cannot inflate the scale estimate and mask itself, which a
    * mean/stddev monitor is vulnerable to). Median and MAD are exact
    * type-7 interpolations over integers (values land on quarters at
    * worst — exact binary fractions, identical in both engines, the
    * q18 percentile ≡ quantile_cont guarantee), and the z is ONE fixed
    * double expression over them. Zero-MAD groups (over half the turns
    * at the median length) pin NULL.
    * Scale: two dependent percentile Window nodes (the second consumes
    * the first's median) sharing ONE conv_id exchange and one
    * partition-grouping sort (WindowExec needs rows clustered by the
    * partition key even with no order keys); percentile state is a
    * per-group buffer bounded by conversation length, the
    * block-aggregator envelope.
    */
  def madOutliers(transcripts: DataFrame, threshold: Double = 3.5): DataFrame = {
    require(threshold > 0.0, s"threshold must be > 0, got $threshold")
    val wAll = Window.partitionBy(col("conv_id"))
    val withMed = transcripts
      .filter(col("text").isNotNull && col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"),
        length(col("text")).cast("long").as("char_len"))
      .withColumn("_med", percentile(col("char_len"), lit(0.5)).over(wAll))
    val withMad = withMed
      .withColumn("_mad",
        percentile(abs(col("char_len").cast("double") - col("_med")), lit(0.5))
          .over(wAll))
    val z = lit(0.6745) * (col("char_len").cast("double") - col("_med")) /
      col("_mad")
    withMad.select(
      col("conv_id"), col("turn_idx"), col("char_len"),
      when(col("_mad") > 0, round(z, 6)).as("robust_z"),
      when(col("_mad") > 0, abs(z) > lit(threshold)).as("is_outlier"))
  }

  /** Inter-arrival (turn-gap) distribution per conversation — n_gaps,
    * p50/p95 and max of the successor time delta in microseconds: the
    * cadence profile ("how bursty is this conversation?") that the
    * tumbling rollup's turn_count-per-window only coarsely implies.
    * Gaps are the [[timeWeightedAvg]] lead-diff (a null ts or null
    * turn_idx is a missing sample, dropped whole, so the gap spans it);
    * single-turn conversations carry no gap and yield no row. Both
    * quantiles come from ONE `percentile` array call — one sort buffer
    * per group, not two — and are emitted as RAW doubles, which pins
    * the interpolator's formula across engines: Spark's Percentile and
    * DuckDB's quantile_cont both evaluate the linear-combination form
    * `(hi−pos)·lo + (pos−lo)·hi` (measured bit-identical over random
    * integer-µs inputs; the offset form `lo + frac·(hi−lo)` differs in
    * the last ulp on ~11% of cases — a DuckDB interpolator change
    * would surface here first, NOT in the 6dp-rounded q18/q53).
    * Rounding would not help at this magnitude: at 1e8 µs with 6dp,
    * Spark's decimal-repr HALF_UP and DuckDB's float-space ROUND
    * themselves disagree (measured), so the raw pin is the stricter
    * AND the stabler contract.
    * Scale: the lead window and the aggregation share the conv_id
    * partitioning — ONE exchange (the twa plan shape); percentile
    * state is bounded by conversation length.
    */
  def turnGapStats(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForNtz(transcripts, "ts")
    // order by the PROJECTED µs value (unix_micros is monotone in ts,
    // so (_us, turn_idx) ≡ (ts, turn_idx) ordering) — ts itself is
    // pruned before the window
    val w = Window.partitionBy(col("conv_id")).orderBy(col("_us"), col("turn_idx"))
    val tsUs = unix_micros(col("ts").cast("timestamp"))
    val gaps = transcripts
      .filter(col("ts").isNotNull && col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"), tsUs.as("_us"))
      .withColumn("dt_us", lead(col("_us"), 1).over(w) - col("_us"))
      .filter(col("dt_us").isNotNull)
    gaps.groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_gaps"),
        percentile(col("dt_us"), array(lit(0.5), lit(0.95))).as("_q"),
        max(col("dt_us")).as("gap_max_us"))
      .select(col("conv_id"), col("n_gaps"),
        col("_q").getItem(0).as("gap_p50_us"),
        col("_q").getItem(1).as("gap_p95_us"),
        col("gap_max_us"))
  }

  /** Spearman rank correlation between turn position and turn length
    * per conversation — the rank-based (outlier-robust) sibling of
    * [[lengthDriftCorr]]: one 10k-char turn cannot dominate the trend
    * signal. Spearman IS Pearson over ranks, so this reuses
    * [[pearsonFromMoments]] verbatim: position ranks are row numbers
    * (unique by the (conv_id, turn_idx) invariant) and length ranks
    * are tie-AVERAGED (`rank + (peers−1)/2`, the standard fractional
    * rank), both DOUBLED so every rank is an exact integer and the
    * moments stay plain long sums. Envelope: Σ(2rx·2ry) ≤ 4n³ —
    * inside Long for million-turn conversations. The peers count uses
    * a RANGE current-row frame (all rows tied on the order key), which
    * shares the length-rank window's (conv_id, char_len) sort instead
    * of forcing a second exchange on (conv_id, char_len).
    * Scale: ONE conv_id exchange, two sorts (position order, length
    * order), then the moment groupBy reuses the partitioning.
    */
  def spearmanDrift(transcripts: DataFrame): DataFrame = {
    val wIdx = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val wLen = Window.partitionBy(col("conv_id")).orderBy(col("char_len"))
    // derived from wLen so the two specs CANNOT drift apart — they must
    // stay identical for the shared-sort single-exchange plan shape
    val wPeers = wLen.rangeBetween(Window.currentRow, Window.currentRow)
    val ranked = transcripts
      .filter(col("text").isNotNull && col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"),
        length(col("text")).cast("long").as("char_len"))
      .select(col("conv_id"),
        // 2·row_number: doubled position rank (ties impossible)
        (row_number().over(wIdx).cast("long") * 2L).as("x"),
        // 2·(rank + (peers−1)/2) = 2·rank + peers − 1: doubled
        // tie-averaged length rank, exact integers throughout
        (rank().over(wLen).cast("long") * 2L +
          count(lit(1)).over(wPeers) - 1L).as("y"))
    pearsonFromMoments(ranked, nName = "n", outName = "spearman_corr")
  }

  /** Holt double-exponential (level + trend) smoothing of turn length
    * per conversation — the trend-aware sibling of [[ewma]]:
    * `l = α·x + (1−α)·(l+b)`, `b = β·(l' − l) + (1−β)·b`, seeded
    * `l₀ = x₀, b₀ = 0`, emitting the final level/trend and the
    * one-step forecast `l + b`. Like ewma the recurrence is inherently
    * sequential, folded over one ordered array per group — but the
    * state is a STRUCT, and DuckDB's `list_reduce` mutates a struct
    * accumulator field-by-field IN PLACE (measured: the `b` lambda
    * expression observes the already-updated `l`), so the oracle is a
    * recursive CTE instead — one recurrence row per step with the
    * identical double expressions, which IS bit-exact (the fold order
    * and operand shapes match; `l'` is recomputed inside the `b`
    * expression in both engines). Order is the canonical (conv_id,
    * turn_idx) invariant; null text / null turn_idx drop the whole
    * observation.
    * Scale: ONE conv_id exchange, O(turns) array per group — the ewma
    * envelope. The fold runs ONCE: the struct lands in its own
    * projection (higher-order functions are exempt from
    * CollapseProject inlining, the ewma materialization idiom) and the
    * three outputs read its fields.
    */
  def holtSmooth(transcripts: DataFrame, alpha: Double = 0.3,
      beta: Double = 0.2): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(beta > 0.0 && beta <= 1.0, s"beta must be in (0, 1], got $beta")
    def lNew(acc: Column, x: Column): Column =
      lit(alpha) * x + (lit(1.0) - lit(alpha)) *
        (acc.getField("l") + acc.getField("b"))
    val state = aggregate(
      slice(col("vals"), lit(2), (col("n") - 1).cast("int")),
      struct(element_at(col("vals"), lit(1)).as("l"), lit(0.0).as("b")),
      (acc, x) => struct(
        lNew(acc, x).as("l"),
        (lit(beta) * (lNew(acc, x) - acc.getField("l")) +
          (lit(1.0) - lit(beta)) * acc.getField("b")).as("b")))
    orderedLenArray(transcripts, byEventTime = false)
      .select(col("conv_id"), col("n"), state.as("_s"))
      .select(col("conv_id"), col("n"),
        col("_s").getField("l").as("holt_level"),
        col("_s").getField("b").as("holt_trend"),
        (col("_s").getField("l") + col("_s").getField("b"))
          .as("holt_forecast"))
  }

  /** Run-length encoding of consecutive same-role turns per
    * conversation (gaps-and-islands): each maximal run of turns sharing
    * one role becomes a row carrying its position span, length, and
    * char mass — the "who is talking, and for how long" structure
    * (assistant monologues, tool-call bursts) that per-turn rows hide
    * and the role-count rollups aggregate away. A run breaks on every
    * role change, with NULL a role value of its own (null-SAFE
    * comparison: an unattributed turn between two user turns splits
    * them, two adjacent unattributed turns are one run) — Spark `<=>`
    * ≡ SQL `IS NOT DISTINCT FROM`, so both engines agree.
    * Run ids are the classic start-flag cumsum — 1 where the role
    * differs from its predecessor (the first row detected by
    * `lag(turn_idx) IS NULL`, which cannot be confused with a null
    * ROLE), running sum over the canonical turn order — so ids are
    * 1-based per conversation and the output is exact integers
    * end-to-end. `char_len_sum` null-skips exactly like the rollup's
    * SUM (an all-null-text run carries NULL, not 0).
    * Null turn_idx drops the whole observation (it orders the
    * recurrence, [[ewma]] doctrine); null text only nulls that turn's
    * char contribution — the run structure is a ROLE property and must
    * not shift when a text payload is missing.
    * Scale: ONE conv_id exchange and one sort — the lag flags and the
    * running sum share the (conv_id, turn_idx) window spec, and the
    * per-run groupBy reuses the conv_id partitioning (run_id/role are
    * conv-local refinements of the key, so HashPartitioning(conv_id)
    * already clusters them).
    */
  def roleRuns(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    transcripts
      .filter(col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"), col("role"),
        length(col("text")).cast("long").as("char_len"))
      .withColumn("_new",
        when(lag(col("turn_idx"), 1).over(w).isNotNull &&
          (col("role") <=> lag(col("role"), 1).over(w)), 0L).otherwise(1L))
      .withColumn("run_id", sum(col("_new")).over(wRun))
      .groupBy(col("conv_id"), col("run_id"), col("role"))
      .agg(
        count(lit(1)).as("run_len"),
        min(col("turn_idx")).as("start_idx"),
        max(col("turn_idx")).as("end_idx"),
        sum(col("char_len")).as("char_len_sum"))
  }

  /** Time-window burst detection per conversation: for every turn, the
    * number of turns inside the trailing `windowSeconds` (inclusive)
    * and a flag once that count reaches `minTurns` — "is the
    * conversation running hot right now". This is the value-based
    * RANGE-frame sibling of the row-based rolling frames
    * ([[rollingZscore]]): the frame is defined by the TIME AXIS, not
    * by row positions, so irregular sampling is handled exactly — ten
    * turns inside one minute light up, ten turns spread over an hour
    * do not, regardless of how many rows either spans.
    * The frame is `RANGE BETWEEN windowSeconds·10⁶ PRECEDING AND
    * CURRENT ROW` over integer microseconds. In RANGE mode both
    * engines end the frame at the last ORDER-KEY PEER, so simultaneous
    * turns (equal µs) count each other symmetrically and the result is
    * deterministic under ties with no tiebreaker column — the reason
    * the sort key is `_us` alone, unlike the positional operators.
    * All state is integer; the output carries no doubles at all.
    * Null ts cannot be placed on the time axis and null turn_idx has
    * no output identity — both drop the whole observation (the family
    * doctrine). Scale: ONE conv_id exchange, one sort, and the running
    * RANGE frame holds only the rows inside the burst width, so
    * per-row state is bounded by burst density, not conversation
    * length.
    */
  def burstFlags(transcripts: DataFrame, windowSeconds: Long = 300L,
      minTurns: Long = 5L): DataFrame = {
    // 10-year cap keeps the µs radius (and every frame-bound add the
    // window evaluator performs) far inside Long — same rationale as
    // the cusum tunable cap: a wild literal should be an analysis-time
    // error, not a runtime ANSI overflow
    val capS = 315360000L
    require(windowSeconds > 0 && windowSeconds <= capS,
      s"windowSeconds must be in (0, $capS], got $windowSeconds")
    require(minTurns > 0 && minTurns <= 1000000000L,
      s"minTurns must be in (0, 1e9], got $minTurns")
    TimeArith.requireUtcForNtz(transcripts, "ts")
    val w = Window.partitionBy(col("conv_id")).orderBy(col("_us"))
      .rangeBetween(-windowSeconds * 1000000L, 0L)
    transcripts
      .filter(col("ts").isNotNull && col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"),
        unix_micros(col("ts").cast("timestamp")).as("_us"))
      .withColumn("burst_count", count(lit(1)).over(w))
      .select(col("conv_id"), col("turn_idx"), col("burst_count"),
        (col("burst_count") >= minTurns).as("is_burst"))
  }

  /** Tool-usage concentration per conversation — Simpson diversity
    * `1 − Σcᵢ²/n²` over the per-tool call counts, plus the inverse-
    * Simpson "effective number of tools" `n²/Σcᵢ²` (the Hill number of
    * order 2): 0 / 1.0 when one tool dominates completely, and EXACTLY
    * `1 − 1/k` / `k` when k tools share the calls evenly — "does this
    * conversation lean on one tool or spread across its toolbox".
    * Simpson, NOT Shannon, deliberately: entropy needs `ln`, and Java's
    * `Math.log` vs DuckDB's `std::log` differ by 1 ulp on 6 of the
    * first 300k integers (measured: first at 9170), so a Shannon
    * entropy can never be hash-exact across engines — Simpson's
    * moments are plain integer sums and the two outputs are ONE fixed
    * double expression each, the [[pearsonFromMoments]] exactness
    * idiom. Long envelope: Σcᵢ² ≤ n², inside Long for 3-billion-call
    * conversations.
    * Conversations with zero tool calls yield no row (no toolbox, no
    * diversity — NULL columns would poison downstream averages);
    * null tool is the no-call marker ([[graft.rollup.Rollup]]'s `count(tool)`
    * semantics), not a tool name.
    * Scale: the per-(conv, tool) count exchanges with MAP-SIDE partial
    * aggregation — at 10¹² turns the shuffle moves pre-collapsed
    * (conv, tool, count) triples, far below the raw-row volume a
    * conv_id repartition would move — then the per-conv reduction
    * exchanges only those triples (the q49 histogram two-exchange
    * shape: one real, one metadata-scale).
    */
  def toolDiversity(transcripts: DataFrame): DataFrame = {
    val n = col("n_tool_calls").cast("double")
    transcripts
      .filter(col("tool").isNotNull)
      .select(col("conv_id"), col("tool"))
      .groupBy(col("conv_id"), col("tool"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_tools"),
        sum(col("c")).as("n_tool_calls"),
        sum(col("c") * col("c")).as("_ss"))
      .select(col("conv_id"), col("n_tools"), col("n_tool_calls"),
        round(lit(1.0) - col("_ss").cast("double") / (n * col("n_tool_calls")), 6)
          .as("simpson_diversity"),
        round(n * col("n_tool_calls") / col("_ss").cast("double"), 6)
          .as("effective_tools"))
  }

  /** Per-conversation tool TRANSITION diversity — the order-sensitive
    * sibling of [[toolDiversity]]: Simpson concentration over the
    * distribution of consecutive tool-call PAIRS (the conversation's
    * first-order Markov edges), plus the dominant transition and its
    * share. Shannon entropy is deliberately NOT used (`ln()` is 1-ulp
    * engine-divergent — the q59 decision); Simpson stays all-rational,
    * so the oracle is hash-exact. "Consecutive" means adjacent among
    * the conversation's TOOL turns in canonical turn order (non-tool
    * turns between two calls don't break the chain — the
    * [[graft.operators.SeriesOps.toolCadence]] convention). Conversations with < 2 tool calls
    * have no transitions and drop. The dominant pair ties break
    * lexicographically via `MIN(pair | c = max c)` — deterministic
    * and identically expressed in both engines.
    *
    * Plan: ONE conv_id exchange for the lead window; the pair
    * group-by partial-aggregates map-side and the max-count window +
    * final collapse move only pair-cardinality rows.
    */
  def toolTransitionDiversity(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val pairs = transcripts
      .filter(col("conv_id").isNotNull && col("turn_idx").isNotNull &&
        col("tool").isNotNull)
      .select(col("conv_id"), col("turn_idx"), col("tool"))
      .withColumn("_nt", lead(col("tool"), 1).over(w))
      .filter(col("_nt").isNotNull)
      .select(col("conv_id"),
        concat(col("tool"), lit(">"), col("_nt")).as("pair"))
    val mx = Window.partitionBy(col("conv_id"))
    val n = col("transitions").cast("double")
    pairs
      .groupBy(col("conv_id"), col("pair"))
      .agg(count(lit(1)).as("c"))
      .withColumn("_mc", max(col("c")).over(mx))
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("c")).as("transitions"),
        sum(col("c") * col("c")).as("_ss"),
        min(when(col("c") === col("_mc"), col("pair"))).as("top_pair"),
        max(col("c")).as("_topc"))
      .select(col("conv_id"), col("n_pairs"), col("transitions"),
        round(lit(1.0) - col("_ss").cast("double") / (n * col("transitions")), 6)
          .as("simpson_diversity"),
        round(n * col("transitions") / col("_ss").cast("double"), 6)
          .as("effective_pairs"),
        col("top_pair"),
        round(col("_topc").cast("double") / n, 6).as("top_share"))
  }

  /** Corpus-level role transition matrix — counts and row-normalized
    * shares of `role → successor role` over the canonical turn order:
    * the first-order Markov structure of the dialogue ("what follows a
    * tool turn?") that per-conversation rollups cannot see.
    * Successor existence is detected via `lead(turn_idx)` — turn_idx
    * is non-null by the observation filter, so a null there means NO
    * next row (the conversation's last turn, which contributes no
    * pair), while a null `lead(role)` with a live successor is a real
    * transition INTO an unattributed turn. Conflating the two (the
    * naive `lead(role) IS NOT NULL` filter) would silently drop every
    * transition into a null role.
    * Counts are exact longs; each share is ONE division of a count by
    * its row total, both cast to double in a fixed shape, identical in
    * both engines (the q49 pct idiom). Null turn_idx drops the whole
    * observation (order key); role stays as-is on both sides of the
    * pair.
    * Scale: ONE full-data conv_id exchange for the lead window; the
    * transition groupBy (map-side partial) and the row-total window
    * then move only |roles|² rows — metadata-scale exchanges, the q49
    * share shape.
    */
  def roleTransitions(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    transcripts
      .filter(col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"), col("role"))
      .select(col("role"),
        lead(col("role"), 1).over(w).as("next_role"),
        lead(col("turn_idx"), 1).over(w).as("_nx"))
      .filter(col("_nx").isNotNull)
      .groupBy(col("role"), col("next_role"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("role"), col("next_role"), col("cnt"),
        (col("cnt").cast("double") /
          sum(col("cnt")).over(Window.partitionBy(col("role"))).cast("double"))
          .as("share"))
  }

  /** Tool-vocabulary growth curve per conversation: for every turn,
    * how many DISTINCT tools the conversation has used so far — the
    * adoption trajectory ("does this agent keep discovering tools or
    * settle early?") that end-state counts like [[toolDiversity]]'s
    * n_tools flatten away. The classic two-window form: a
    * first-occurrence flag (`row_number() = 1` over (conv, tool) in
    * turn order) cumulatively summed over the conversation — running
    * COUNT(DISTINCT) is not a window aggregate in either engine, but
    * this decomposition is exactly equivalent and all-integer.
    * Non-tool turns (null tool) flag 0 and still emit a row: the curve
    * is defined at EVERY turn, so downstream joins against other
    * per-turn signals never gap.
    * Null turn_idx drops the whole observation (order key, [[ewma]]
    * doctrine). Scale: the explicit conv_id repartition makes BOTH
    * window specs and their sorts run on ONE exchange —
    * HashPartitioning(conv_id) already clusters (conv_id, tool);
    * without it the planner would exchange on (conv_id, tool) for the
    * flag and then RE-exchange the full rows on conv_id for the cumsum
    * (the [[spearmanDrift]] one-exchange-two-sorts shape).
    */
  def toolVocabGrowth(transcripts: DataFrame): DataFrame = {
    val wTool = Window.partitionBy(col("conv_id"), col("tool"))
      .orderBy(col("turn_idx"))
    val wRun = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    transcripts
      .filter(col("turn_idx").isNotNull)
      .select(col("conv_id"), col("turn_idx"), col("tool"))
      .repartition(col("conv_id"))
      .withColumn("_first",
        when(col("tool").isNotNull && row_number().over(wTool) === 1, 1L)
          .otherwise(0L))
      .select(col("conv_id"), col("turn_idx"),
        sum(col("_first")).over(wRun).as("distinct_tools_so_far"))
  }

  /** Corpus-level seasonality profile — turn volume, tool-call volume,
    * and char mass by (day-of-week, hour-of-day) in UTC: the calendar
    * heartbeat ("weekday mornings are chatty, weekend nights are
    * tool-heavy") that conversation-keyed rollups cannot express
    * because it aggregates ACROSS conversations by wall-clock cell.
    * Day-of-week is Spark's `dayofweek` convention (1 = Sunday …
    * 7 = Saturday); the oracle mirrors with `EXTRACT(dow) + 1`
    * (DuckDB counts 0 = Sunday). All counts/sums are exact integers;
    * the average is the rollup's `sum · 1.0 / count` idiom (null text
    * null-skips the sum but holds its slot in the count, exactly like
    * `char_len_avg` in the 1m tier).
    * Null ts has no calendar cell — dropped whole; turn_idx is not
    * consumed at all, so its nullness is irrelevant here (this is the
    * one family operator keyed by wall-clock, not by turn order).
    * Unlike the µs-arithmetic siblings, field extraction reads the
    * session zone for EVERY timestamp type — hence the unconditional
    * [[TimeArith.requireUtcForCalendar]] guard, not the NTZ-only one.
    * Scale: aggregation with map-side combine onto AT MOST 168 cells —
    * the exchange moves 168 partial rows per mapper regardless of
    * corpus size; the profile of 2.5 × 10¹² turns shuffles kilobytes.
    */
  def hourlyProfile(transcripts: DataFrame): DataFrame = {
    TimeArith.requireUtcForCalendar(transcripts, "ts")
    transcripts
      .filter(col("ts").isNotNull)
      .groupBy(
        dayofweek(col("ts")).as("dow"),
        hour(col("ts")).as("hod"))
      .agg(
        count(lit(1)).as("turn_count"),
        count(col("tool")).as("tool_calls"),
        sum(length(col("text")).cast("long")).as("char_len_sum"))
      .withColumn("char_len_avg",
        col("char_len_sum") * lit(1.0) / col("turn_count"))
  }

  /** Op #19 — running counters (`processed_rows += k`,
    * `CsvSettingsDAO.java:72-91`): cumulative sums over the stable
    * per-conversation order.
    */
  def runningCounters(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    transcripts.select(
      col("conv_id"),
      col("turn_idx"),
      count(lit(1)).over(w).as("processed_rows"),
      sum(when(col("tool").isNotNull, 1L).otherwise(0L)).over(w).as("tool_calls_so_far"))
  }

  /** Edit (Levenshtein) distance between the tool-call SEQUENCES of
    * the `k` conversations with the most tool calls — sequence-level
    * similarity of agent behavior, the order-sensitive sibling of
    * [[graft.operators.SeriesOps.dtwPairs]] (which warps VALUE series;
    * this aligns SYMBOL strings) and of the set-overlap jaccard in
    * toolCooccurrence. Each conversation's non-null tool calls in
    * canonical turn order become a string over a per-tool character
    * alphabet (rank in global tool-name order, offset into ASCII
    * printable space), so token-level edit distance equals the
    * engines' built-in char-level `levenshtein` — both Spark and
    * DuckDB implement the same unit-cost Wagner-Fischer DP, making the
    * distance hash-exact with NO custom fold. The ASCII mapping bounds
    * the alphabet at 94 tools; a larger toolbox fails the row with
    * `raise_error` rather than silently aliasing two tools to one
    * character (Spark's `char` wraps mod 256 — aliasing would be a
    * SILENT wrong distance).
    *
    * Null doctrine: null tool is a non-tool turn, not a sequence
    * element (skipped, matching every tool census); null turn_idx
    * cannot be ordered and null conv_id cannot own a sequence — both
    * drop ([[ewma]] order-key rule).
    *
    * Ranking: top-`k` by (sequence length, conv_id) — unique key,
    * deterministic TakeOrdered. Scale: the alphabet is a broadcast of
    * the distinct-tool frame, sequences gather on ONE conv_id
    * exchange, and the pair frame is k² driver-scale rows each paying
    * one O(len²) library DP (len bounded by the gathered string, a
    * declared-contract input; cap k to bound the quadratic).
    */
  def toolSeqEdit(transcripts: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 2 && k <= 64, s"k must be in [2, 64], got $k")
    val alphabet = transcripts
      .filter(col("tool").isNotNull)
      .select(col("tool")).distinct()
      .select(col("tool"),
        row_number().over(Window.orderBy(col("tool"))).as("r"))
    val seqs = transcripts
      .filter(col("tool").isNotNull && col("turn_idx").isNotNull &&
        col("conv_id").isNotNull)
      .join(broadcast(alphabet), "tool")
      .select(col("conv_id"), col("turn_idx"),
        when(col("r") > 94,
          expr("raise_error('toolSeqEdit: tool alphabet exceeds 94')"))
          .otherwise(expr("char(32 + r)")).as("ch"))
      .groupBy(col("conv_id"))
      // turn_idx is unique per conversation — total struct order
      .agg(expr(
        "array_join(transform(sort_array(collect_list(struct(turn_idx, ch))), s -> s.ch), '')")
        .as("seq"))
      .select(col("conv_id"), col("seq"),
        length(col("seq")).cast("long").as("n"))
      .orderBy(col("n").desc, col("conv_id").asc)
      .limit(k)
      // ≤ k rows referenced TWICE by the pair self-join: localCheckpoint
      // ([[graft.operators.SeriesOps.dtwPairs]] rationale) gathers the
      // sequences once instead of once per join side
      .localCheckpoint()
    val a = seqs.select(col("conv_id").as("conv_a"), col("seq").as("sa"),
      col("n").as("len_a"))
    val b = seqs.select(col("conv_id").as("conv_b"), col("seq").as("sb"),
      col("n").as("len_b"))
    a.join(b, col("conv_a") < col("conv_b"))
      .select(col("conv_a"), col("conv_b"), col("len_a"), col("len_b"),
        levenshtein(col("sa"), col("sb")).cast("long").as("edit_dist"))
  }
}
