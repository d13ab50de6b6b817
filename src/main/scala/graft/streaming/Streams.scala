package graft.streaming

import graft.faults.FaultRules
import graft.functions.{CountMin, MinHashSig}
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Telemetry record for typed stateful ops (the reference's TimeseriesData,
  * `main.rs:23-30`, in Spark-encoder shape). */
case class Telemetry(
    sensor_name: String,
    timestamp: java.sql.Timestamp,
    value: Double,
    fc1_flag: Option[Byte],
    timeseries_id: String)

/** Keyed state carried across micro-batches by [[Streams.faultRuns]]. */
case class RunState(runLength: Int)

/** Keyed state carried across micro-batches by [[Streams.rates]]: the fold
  * variables of the batch `q_ts_rate` kernel (milli-scaled last value,
  * accumulated increase, reset count, first/last event time).
  */
case class RateState(
    lastVm: Long,
    increaseM: Long,
    nResets: Long,
    firstTsUs: Long,
    lastTsUs: Long,
    nLateDropped: Long)

/** Per-series cumulative rate snapshot emitted by [[Streams.rates]] each
  * micro-batch that touches the series. Field semantics match batch
  * `q_ts_rate` exactly (increase_m / n_resets / dur_us / rate_per_s).
  */
case class RateSnapshot(
    timeseries_id: String,
    increase_m: Long,
    n_resets: Long,
    dur_us: Long,
    rate_per_s: Double,
    n_late_dropped: Long)

/** Keyed state carried across micro-batches by [[Streams.ewma]]: the fold
  * variables of the batch `q_ts_ewma` kernel (running EWMA, sample count,
  * last event time for the across-batch order guard).
  */
case class EwmaState(
    e: Double,
    n: Long,
    lastTsUs: Long,
    nLateDropped: Long)

/** Per-series cumulative EWMA snapshot emitted by [[Streams.ewma]] each
  * micro-batch that touches the series; `ewma` is rounded to 1e-6 exactly
  * as the batch kernel's output.
  */
case class EwmaSnapshot(
    timeseries_id: String,
    n: Long,
    ewma: Double,
    n_late_dropped: Long)

/** Alert emitted when a series reaches `minRun` consecutive faults. */
case class FaultRunAlert(
    timeseries_id: String,
    at: java.sql.Timestamp,
    run_length: Int)

/** Keyed state carried by [[Streams.silentSeries]]: the last event time
  * observed for the series (event-time ms). */
case class SilentState(lastSeenMs: Long)

/** Alert emitted by [[Streams.silentSeries]] when a series has been silent
  * past the horizon: last event seen, and how silent it had provably been
  * when the alert fired (watermark minus last seen — a lower bound on the
  * true silence, since the watermark trails real time by the lateness
  * allowance). */
case class SilentAlert(
    timeseries_id: String,
    last_seen: java.sql.Timestamp,
    silent_for_ms: Long)

/** SURVEY.md §2.4 group J — Structured Streaming.
  *
  * The reference's "streaming" is a push-ingest HTTP route plus a wall-clock
  * periodic scan job (`rusty_timeseries/src/main.rs:327-331,234-240`): late
  * data is handled by appending and re-scanning everything on the next tick.
  * Here the same semantics are event-time-correct micro-batch dataflows:
  *
  *   - [[ingestFiles]]  — R1/R9: JSON-lines landing dir → partitioned
  *     parquet, exactly-once via checkpoint (replaces the full-file rewrite
  *     per insert, `main.rs:101`).
  *   - [[faultFlags]]   — R5 per-row: stateless threshold flagging; at scale
  *     this runs in the ingest stream itself, zero shuffle.
  *   - [[faultCounts]]  — R5/R6 aggregated: per-series tumbling-window fault
  *     counts with a watermark bounding state; late rows update their
  *     window instead of triggering a full rescan.
  *   - [[sessionize]]   — session windows per series (gap-based), the
  *     streaming analog of the batch `q_ts_session` operator.
  *
  * All transforms are pure `DataFrame => DataFrame` on an unbounded input,
  * so ScalaTest drives them with `MemoryStream` and asserts equivalence
  * with the batch operators on the same rows (SURVEY.md §5.2.4); the same
  * code runs against a file source in production.
  */
object Streams {

  /** The reference's telemetry record (`main.rs:23-30`) as a streaming-JSON
    * schema: SURVEY.md §1.3 mapping, with proper types for ts/value/flag.
    */
  val telemetrySchema: StructType = StructType(Seq(
    StructField("sensor_name", StringType),
    StructField("timestamp", TimestampType),
    StructField("value", DoubleType),
    StructField("fc1_flag", ByteType),
    StructField("timeseries_id", StringType)))

  /** The telemetry key, (series, ts): every store here is written and read
    * by it, so a landing and a read can never disagree on it. An object,
    * not two members: the public members of [[Streams]] are its kernels. */
  object TelemetryKey {
    val SeriesCol = "timeseries_id"
    val TsCol = "timestamp"
  }
  import TelemetryKey.{SeriesCol, TsCol}

  /** The production trigger of every sink here: one micro-batch per 5
    * minutes, the reference's periodic-job tick (`main.rs:327-331`). */
  private val DefaultTrigger: Trigger = Trigger.ProcessingTime("5 minutes")

  /** The one `foreachBatch` sink: `f` gets each micro-batch and its id.
    * Delivery is at-least-once; each `f` here is exactly-once in effect
    * through its own layout (a replay replaces what its first delivery
    * wrote). Caller starts the returned writer (`.start()`).
    */
  private def batchSink(df: DataFrame, checkpointDir: String, trigger: Trigger)(
      f: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .foreachBatch(f)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)

  /** R1/R9: JSON-lines dir → parquet sink, checkpointed, day-partitioned.
    * Caller starts the returned writer (`.start()`), which lets tests use
    * `Trigger.AvailableNow` while production uses processing-time.
    */
  def ingestFiles(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      checkpointDir: String,
      trigger: Trigger = DefaultTrigger)
      : DataStreamWriter[Row] = {
    val in = spark.readStream
      .schema(telemetrySchema)
      .json(inDir)
      .withColumn("event_date", to_date(col("timestamp")))
    in.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("event_date")
      .trigger(trigger)
  }

  /** Stream-static dimension enrichment: join the telemetry stream with a
    * (small, slowly-changing) series-catalog table — the realized form of
    * the reference's dead `TimeseriesReference` struct (`main.rs:32-36`).
    * The dimension is broadcast, so enrichment adds ZERO shuffle to the
    * stream; Spark re-reads the static side per micro-batch, picking up
    * catalog updates without restarting the query.
    */
  def enrich(telemetry: DataFrame, seriesCatalog: DataFrame): DataFrame =
    telemetry.join(broadcast(seriesCatalog), Seq(SeriesCol), "left")

  /** R5 stateless: flag rows over threshold; composes onto any telemetry
    * stream or batch frame (same code path both ways).
    */
  def faultFlags(telemetry: DataFrame, threshold: Double): DataFrame =
    telemetry.withColumn(
      "fc1_flag",
      FaultRules.mergeFlags(
        FaultRules.thresholdFlag(col("value"), threshold),
        col("fc1_flag").cast("long")))

  /** R5+R6 aggregated: per-series fault counts in event-time tumbling
    * windows; watermark bounds state and admits late rows into their
    * correct window (the reference instead re-scanned everything each tick).
    */
  def faultCounts(
      telemetry: DataFrame,
      threshold: Double,
      windowLen: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    telemetry
      .withWatermark("timestamp", watermark)
      .groupBy(
        col("timeseries_id"),
        window(col("timestamp"), windowLen).as("win"))
      .agg(
        count(when(col("value") > threshold, 1)).as("n_faults"),
        count(lit(1)).as("n_rows"))
      .select(
        col("timeseries_id"),
        col("win.start").as("window_start"),
        col("n_faults"),
        col("n_rows"))

  /** Hopping (sliding) windows: 15-minute aggregates advancing every 5
    * minutes, so each event lands in len/hop = 3 overlapping windows — the
    * streaming twin of batch `q_ts_hopping`. Spark's `window(col, len,
    * hop)` does the 3-way assignment map-side (the same constant fan-out
    * the batch operator writes as an explicit explode); the watermark
    * bounds how long a window stays open for late rows, so state is
    * O(open windows × series), not O(stream). Late rows inside the
    * watermark land in ALL the windows they belong to.
    */
  def hoppingCounts(
      telemetry: DataFrame,
      windowLen: String = "15 minutes",
      hop: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    telemetry
      .withWatermark("timestamp", watermark)
      .groupBy(
        col("timeseries_id"),
        window(col("timestamp"), windowLen, hop).as("win"))
      .agg(
        count(lit(1)).as("n_rows"),
        // decimal-exact mean (U.davg discipline): a plain double avg is
        // shuffle-order-dependent and can flip the 6th decimal across runs
        graft.U.davg(col("value")).as("avg_value"))
      .select(
        col("timeseries_id"),
        col("win.start").as("window_start"),
        col("n_rows"),
        round(col("avg_value"), 6).as("avg_value"))

  /** Continuous data-quality gate — the streaming maintenance path of
    * batch `q_quality_expectations`: per event-time window and rule,
    * (n_checked, n_violations). Three rules over the telemetry domain:
    * value in [lo, hi] (NULL/NaN fail), series id present, flag in
    * {NULL, 0, 1}. The rule fan-out is a stateless map-side `stack` (rows
    * × 3, constant), so the only state is the windowed count aggregate —
    * bounded by (open windows × rules) like every watermarked agg here.
    * Counts finalize once per window in append mode, so the MV this feeds
    * is replay-idempotent the same way the count MV is. The reference's
    * only admission check is its row-capacity bounds test
    * (main.rs:93-95); this is that idea as a declarative, windowed,
    * always-on gate.
    */
  def qualityGate(
      telemetry: DataFrame,
      lo: Double = 0.0,
      hi: Double = 1.0,
      windowLen: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    telemetry
      .withWatermark("timestamp", watermark)
      // Aggregate FIRST, unpivot the tiny aggregated frame after — the
      // same discipline as batch q_quality_expectations. A stack before
      // the groupBy would triple every shuffle row and hold (windows ×
      // rules) state for zero information gain; here the rules are three
      // conditional sums inside ONE windowed aggregate, and stack runs on
      // O(windows) rows. The flag rule goes through TRY_CAST(... AS
      // DOUBLE) so a malformed flag FAILS THE RULE instead of either
      // slipping through or killing the stream: a non-numeric string
      // yields NULL (caught by the IS NULL arm; a plain CAST would throw
      // under ANSI and fail the whole micro-batch — a quality gate must
      // report bad data, not die on it) and a fractional 1.7 stays 1.7
      // (a BIGINT cast would truncate it into the valid domain).
      .groupBy(window(col("timestamp"), windowLen).as("win"))
      .agg(
        count(lit(1)).as("n_checked"),
        sum(expr(s"""CASE WHEN value IS NULL OR isnan(value)
               OR value < CAST('$lo' AS DOUBLE)
               OR value > CAST('$hi' AS DOUBLE) THEN 1 ELSE 0 END"""))
          .as("v_range"),
        sum(expr(
          "CASE WHEN timeseries_id IS NULL OR timeseries_id = '' THEN 1 ELSE 0 END"))
          .as("v_id"),
        sum(expr("""CASE WHEN fc1_flag IS NOT NULL
               AND (TRY_CAST(fc1_flag AS DOUBLE) IS NULL
                    OR TRY_CAST(fc1_flag AS DOUBLE) NOT IN (0, 1)) THEN 1 ELSE 0 END"""))
          .as("v_flag"))
      .selectExpr(
        "win.start AS window_start",
        "n_checked",
        """stack(3,
          'rv_value_range', v_range,
          'rv_id_present', v_id,
          'rv_flag_domain', v_flag) AS (rule_id, n_violations)""")
      .select(
        col("window_start"),
        col("rule_id"),
        col("n_checked"),
        col("n_violations").cast("long").as("n_violations"))

  /** Streaming fault-run detection with custom state
    * (`flatMapGroupsWithState`): emits an alert whenever a series has seen
    * `minRun` consecutive over-threshold readings. The reference can't
    * express this at all — each 300 s tick re-derives flags from scratch
    * with no memory between scans (`main.rs:384-406`); here the run length
    * is keyed state carried across micro-batches.
    *
    * Rows within a micro-batch are sorted by event time before folding, so
    * in-batch ordering is deterministic; `watermark` bounds late data.
    *
    * State is BOUNDED: one entry per series seen within `stateTtl` of the
    * event-time watermark. A series that goes silent for `stateTtl` has its
    * state evicted via `EventTimeTimeout` (a processing-time timeout would
    * make the no-data micro-batch loop spin continuously under the default
    * 0 ms trigger — measured, not theorized — while an event-time timeout
    * only fires when the watermark actually advances). Without this, state
    * grows monotonically with every series EVER seen — at 100× series
    * cardinality that is the one scale-killer in an otherwise stateless
    * pipeline. Semantics on eviction: the run-length resets, which is the
    * right call — `stateTtl` of silence is itself "not a consecutive fault".
    */
  def faultRuns(
      telemetry: Dataset[Telemetry],
      threshold: Double,
      minRun: Int,
      watermark: String = "10 minutes",
      stateTtlMinutes: Long = 60): Dataset[FaultRunAlert] = {
    import telemetry.sparkSession.implicits._
    val ttlMs = stateTtlMinutes * 60000L
    telemetry
      .withWatermark("timestamp", watermark)
      .groupByKey(_.timeseries_id)
      .flatMapGroupsWithState[RunState, FaultRunAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (id, rows, state) =>
          if (state.hasTimedOut) {
            // the watermark passed this series' last event + TTL with no
            // new data: drop the entry so state size tracks LIVE series
            state.remove()
            Iterator.empty
          } else {
            var run = state.getOption.map(_.runLength).getOrElse(0)
            val alerts = scala.collection.mutable.ArrayBuffer.empty[FaultRunAlert]
            // bounded buffer: `rows` is ONE series' slice of ONE
            // micro-batch (trigger-interval-sized), not its full history —
            // unlike a batch mapGroups, materializing it cannot OOM on a
            // long series
            // total order: equal-timestamp rows tiebreak on (value, sensor) so
            // the order-sensitive fold is deterministic across reruns (the
            // iterator's arrival order is not a contract)
            val sorted = rows.toSeq
              .sortBy(r => (r.timestamp.getTime, r.value, r.sensor_name))
            sorted.foreach { r =>
              run = if (r.value > threshold) run + 1 else 0
              if (run == minRun)
                alerts += FaultRunAlert(id, r.timestamp, run)
            }
            state.update(RunState(run))
            // Evict once the watermark passes last-event + TTL. The timeout
            // timestamp must be strictly ahead of the current watermark, so
            // clamp for groups whose rows all arrived near the watermark.
            val lastEventMs = sorted.map(_.timestamp.getTime).max
            state.setTimeoutTimestamp(
              math.max(lastEventMs + ttlMs, state.getCurrentWatermarkMs() + 1))
            alerts.iterator
          }
      }
  }

  /** Streaming counter rate with reset detection — the streaming form of
    * batch `q_ts_rate` (Prometheus `rate()` semantics): per series, each
    * consecutive delta accumulates; a NEGATIVE delta is a counter reset,
    * contributing the post-reset absolute value and bumping `n_resets`.
    * The reference's soul is a periodic job over an append stream; this is
    * that kernel event-time-native, with the fold variables as keyed state
    * so a reset SPANNING a micro-batch boundary is detected against the
    * carried `lastVm` — no rescan of history.
    *
    * Emits one cumulative [[RateSnapshot]] per series per micro-batch that
    * touches it (a monitoring read model — the latest snapshot per series
    * is the answer; StreamingSpec asserts the final snapshot equals the
    * batch kernel on the same rows, including a mid-stream reset).
    *
    * Ordering: rows are folded in event-time order WITHIN a micro-batch
    * (bounded sort, same argument as [[faultRuns]]); a row older than the
    * carried `lastTsUs` — out-of-order ACROSS batches, inside the
    * watermark — cannot be retro-folded into a running counter delta, so
    * it is counted in `n_late_dropped` instead of silently corrupting the
    * increase (rate over out-of-order counter samples is ill-defined;
    * Prometheus drops them the same way). State is TTL-evicted via
    * `EventTimeTimeout` exactly as in [[faultRuns]]; eviction restarts the
    * series' rate window, which is the right semantic for a series that
    * went silent.
    */
  def rates(
      telemetry: Dataset[Telemetry],
      watermark: String = "10 minutes",
      stateTtlMinutes: Long = 60): Dataset[RateSnapshot] = {
    import telemetry.sparkSession.implicits._
    val ttlMs = stateTtlMinutes * 60000L
    telemetry
      .withWatermark("timestamp", watermark)
      .groupByKey(_.timeseries_id)
      .flatMapGroupsWithState[RateState, RateSnapshot](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (id, rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // bounded buffer: one series' slice of one micro-batch
            // total order: equal-timestamp rows tiebreak on (value, sensor) so
            // the order-sensitive fold is deterministic across reruns (the
            // iterator's arrival order is not a contract)
            val sorted = rows.toSeq
              .sortBy(r => (r.timestamp.getTime, r.value, r.sensor_name))
            var st = state.getOption.orNull
            sorted.foreach { r =>
              val tsUs = r.timestamp.getTime * 1000L
              // milli-scaled integer counter value, exactly as the batch
              // kernel: floor(v*1000 + 0.5)
              val vm = math.floor(r.value * 1000 + 0.5).toLong
              if (st == null)
                st = RateState(vm, 0L, 0L, tsUs, tsUs, 0L)
              else if (tsUs < st.lastTsUs)
                st = st.copy(nLateDropped = st.nLateDropped + 1)
              else {
                val delta = vm - st.lastVm
                st =
                  if (delta < 0)
                    RateState(vm, st.increaseM + vm, st.nResets + 1,
                      st.firstTsUs, tsUs, st.nLateDropped)
                  else
                    RateState(vm, st.increaseM + delta, st.nResets,
                      st.firstTsUs, tsUs, st.nLateDropped)
              }
            }
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(st.lastTsUs / 1000L + ttlMs,
                state.getCurrentWatermarkMs() + 1))
            val durUs = st.lastTsUs - st.firstTsUs
            // same IEEE expression as the batch kernel's rate division
            Iterator.single(RateSnapshot(
              id, st.increaseM, st.nResets, durUs,
              (st.increaseM / 1000.0) / (durUs / 1000000.0),
              st.nLateDropped))
          }
      }
  }

  /** Streaming EWMA — the streaming form of batch `q_ts_ewma` (alpha
    * defaults to 0.25, an exact power of two): per series,
    * e_0 = v_0; e_i = alpha*v_i + (1-alpha)*e_{i-1}. The sequential fold
    * that forces the batch kernel into a secondary-sort mapPartitions is
    * exactly what keyed streaming state is FOR: the carried (e, n) IS the
    * fold accumulator, so each micro-batch costs O(batch) regardless of
    * history length — no rescan, which is the whole point over the
    * reference's periodic full-file re-read.
    *
    * Ordering discipline matches [[rates]]: rows fold in event-time order
    * WITHIN a micro-batch (bounded sort over one series' slice of one
    * batch); a row older than the carried `lastTsUs` cannot be retro-folded
    * into an order-sensitive recurrence, so it is dropped and counted in
    * `n_late_dropped` rather than silently corrupting the average. State is
    * TTL-evicted via `EventTimeTimeout`; eviction restarts the series'
    * average, the right semantic for a series that went silent. StreamingSpec
    * asserts the final snapshot equals the batch kernel's driver-fold twin,
    * including a fold spanning a micro-batch boundary.
    *
    * Equivalence caveat: the across-batch drop means batch-kernel equality
    * holds only for streams that arrive event-time-ordered ACROSS
    * micro-batches (within a batch any order is fine — the bounded sort
    * handles it). A late-but-inside-the-watermark row that lands in a later
    * micro-batch is dropped here but would be folded in order by the batch
    * kernel; `n_late_dropped` > 0 is the signal the two diverge.
    */
  def ewma(
      telemetry: Dataset[Telemetry],
      alpha: Double = 0.25,
      watermark: String = "10 minutes",
      stateTtlMinutes: Long = 60): Dataset[EwmaSnapshot] = {
    import telemetry.sparkSession.implicits._
    val ttlMs = stateTtlMinutes * 60000L
    telemetry
      .withWatermark("timestamp", watermark)
      .groupByKey(_.timeseries_id)
      .flatMapGroupsWithState[EwmaState, EwmaSnapshot](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (id, rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // bounded buffer: one series' slice of one micro-batch
            // total order: equal-timestamp rows tiebreak on (value, sensor) so
            // the order-sensitive fold is deterministic across reruns (the
            // iterator's arrival order is not a contract)
            val sorted = rows.toSeq
              .sortBy(r => (r.timestamp.getTime, r.value, r.sensor_name))
            var st = state.getOption.orNull
            sorted.foreach { r =>
              val tsUs = r.timestamp.getTime * 1000L
              if (st == null)
                st = EwmaState(r.value, 1L, tsUs, 0L)
              else if (tsUs < st.lastTsUs)
                st = st.copy(nLateDropped = st.nLateDropped + 1)
              else
                // same IEEE expression tree as the batch kernel's fold step
                st = EwmaState(
                  alpha * r.value + (1 - alpha) * st.e,
                  st.n + 1, tsUs, st.nLateDropped)
            }
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(st.lastTsUs / 1000L + ttlMs,
                state.getCurrentWatermarkMs() + 1))
            Iterator.single(EwmaSnapshot(
              id, st.n, math.floor(st.e * 1e6 + 0.5) / 1e6, st.nLateDropped))
          }
      }
  }

  /** Silent-series (sensor-death) detection — the fault family's missing
    * member: every other rule flags values that ARRIVE; the most common
    * real HVAC fault is a sensor that simply stops reporting, which no
    * value-based rule can see because there is no row to flag. The
    * reference's architecture cannot express this at all — its periodic
    * scan (`rusty_timeseries/src/main.rs:327-331`) only visits rows that
    * exist. Here the absence itself is the event: keyed state carries the
    * series' last-seen event time, and `EventTimeTimeout` fires once the
    * watermark passes last-seen + `horizon` with no new data — emitting a
    * [[SilentAlert]] and REMOVING the state, so a returning series re-arms
    * fresh (its next row recreates state; a second silence alerts again).
    *
    * Event-time, not wall-clock, on purpose: a stalled upstream pipeline
    * delays the watermark and therefore the alert — silence is only
    * declared once the stream has provably advanced past the horizon, so
    * a slow pipe doesn't page for every sensor at once. `silent_for_ms`
    * is the watermark-measured lower bound on the silence at firing time.
    *
    * State is one long per LIVE series (the alert removes it; dead series
    * cost nothing once flagged) — at 100 TB-scale series counts this is
    * the smallest possible keyed-state footprint.
    */
  def silentSeries(
      telemetry: Dataset[Telemetry],
      horizonMinutes: Long = 30,
      watermark: String = "10 minutes"): Dataset[SilentAlert] = {
    import telemetry.sparkSession.implicits._
    val horizonMs = horizonMinutes * 60000L
    telemetry
      .withWatermark("timestamp", watermark)
      .groupByKey(_.timeseries_id)
      .flatMapGroupsWithState[SilentState, SilentAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (id, rows, state) =>
          if (state.hasTimedOut) {
            val lastSeen = state.get.lastSeenMs
            state.remove()
            Iterator.single(SilentAlert(
              id,
              new java.sql.Timestamp(lastSeen),
              state.getCurrentWatermarkMs() - lastSeen))
          } else {
            // a late row inside the watermark must not move last-seen
            // BACKWARD (that would re-arm an already-elapsed horizon)
            val batchMax = rows.map(_.timestamp.getTime).max
            val lastSeen =
              math.max(state.getOption.map(_.lastSeenMs).getOrElse(0L), batchMax)
            state.update(SilentState(lastSeen))
            // the timeout must be strictly ahead of the current watermark;
            // clamping covers a series whose rows all arrived at/behind it
            state.setTimeoutTimestamp(
              math.max(lastSeen + horizonMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** One row per [[TelemetryKey]] value: the first under `order`. */
  private def firstPerKey(df: DataFrame, order: Seq[Column]): DataFrame =
    df.withColumn("_rn",
        row_number().over(Window.partitionBy(col(SeriesCol), col(TsCol)).orderBy(order: _*)))
      .filter(col("_rn") === 1)
      .drop("_rn")

  /** The in-batch dedup of both upsert tiers: per (series, ts) key the
    * greatest non-key tuple wins (nulls last), a deterministic tie-break,
    * so two deliveries of the same conflicting batch resolve identically.
    * Each winner carries its key's `event_date`.
    */
  private def dedupBatch(batch: DataFrame): DataFrame =
    firstPerKey(batch,
      batch.columns.toIndexedSeq.filterNot(c => c == SeriesCol || c == TsCol)
        .map(col(_).desc_nulls_last))
      .withColumn("event_date", to_date(col(TsCol)))

  /** Each distinct `event_date` of `winners` with its rows: one job. */
  private def datesOf(winners: DataFrame): Seq[(String, DataFrame)] =
    winners.select(col("event_date").cast("string")).distinct().collect()
      .map(_.getString(0)).toSeq
      .map(d => d -> winners.filter(
        if (d == null) col("event_date").isNull else col("event_date") === d))

  /** The per-date fold of both upsert tiers: merge each date's updates
    * (rows with an `event_date` column) into its partition through
    * [[graft.sources.Layout.upsertPartition]]'s swap, dates ascending.
    * A null timestamp yields a null event_date (to_date(null)); such rows
    * land in the Hive default partition, last, so they survive the fold
    * instead of NPE-ing the sort or vanishing from every date filter.
    * Spark reads that directory back as a null date value, so
    * [[upsertRead]] and plain readers both see the row again.
    *
    * The loop is DRIVER-side but bounded by distinct event DATES (a
    * handful per micro-batch: the current day plus late corrections), not
    * by rows; each iteration launches one distributed merge job.
    */
  private def foldDates(s: SparkSession, rootDir: String, byDate: Seq[(String, DataFrame)]): Unit =
    byDate.sortBy { case (d, _) => (d == null, d) }.foreach { case (d, updates) =>
      graft.sources.Layout.upsertPartition(
        s,
        rootDir,
        Option(d).getOrElse("__HIVE_DEFAULT_PARTITION__"),
        updates.drop("event_date"))
    }

  /** [[foldDates]] over a frame of winners, persisted across its
    * distinct-date job ([[datesOf]]) and the per-date merges. */
  private def foldWinners(s: SparkSession, rootDir: String, winners: DataFrame): Unit = {
    val persisted = winners.persist()
    try foldDates(s, rootDir, datesOf(persisted))
    finally persisted.unpersist()
  }

  /** One micro-batch of the streaming upsert ([[upsertSink]]), exposed so
    * a replay is directly testable: [[dedupBatch]], then [[foldWinners]].
    */
  def upsertBatch(batch: DataFrame, rootDir: String): Unit =
    if (!batch.isEmpty) foldWinners(batch.sparkSession, rootDir, dedupBatch(batch))

  /** Exactly-once-EFFECT streaming upsert into the day-partitioned parquet
    * layout — the reference's R3 in-place update
    * (`rusty_timeseries/src/main.rs:106-117,230`) at micro-batch scale: a
    * late correction for (series, ts) REPLACES the stored row instead of
    * appending a duplicate, so readers never see both versions and nothing
    * ever needs a full recompute. `foreachBatch` delivery is at-least-once;
    * what makes the sink exactly-once in effect is that the merge is
    * IDEMPOTENT ([[upsertBatch]]: deterministic in-batch tie-break +
    * key-replace semantics — replaying batch N rewrites the partitions to
    * byte-identical contents). Crash-safety inside one merge comes from
    * the partition swap of [[graft.sources.Layout.upsertPartition]] (a
    * complete copy always exists; `recoverPartition` heals mid-swap
    * crashes on the next attempt).
    *
    * Caller starts the returned writer (`.start()`), same contract as
    * [[ingestFiles]]. StreamingSpec asserts update-overrides-append, replay
    * idempotence, and partition-layout survival.
    */
  def upsertSink(
      telemetry: DataFrame,
      outDir: String,
      checkpointDir: String,
      trigger: Trigger = DefaultTrigger): DataStreamWriter[Row] =
    batchSink(telemetry, checkpointDir, trigger)((b, _) => upsertBatch(b, outDir))

  // ---- delta-log upsert tier (r16; VERDICT r15 item 6) --------------------
  //
  // [[upsertBatch]] merges every touched date partition per micro-batch —
  // O(batch + touched-partition bytes), flat 502 k rows/s under event-time-
  // ordered arrival (STREAMBENCH_sf10.json). But under SHUFFLED arrival
  // (late corrections, backfill — every batch carries every date) "touched
  // partitions" = the whole store, and the measured regime is corpus-
  // coupled (77.9 k rows/s at sf10). The delta tier decouples them: each
  // batch lands O(batch) in its own `_delta/batch=<id>` directory no
  // matter which dates it touches, and a COMPACTION folds the accumulated
  // deltas into the day partitions once every `compactEvery` batches — the
  // store is rewritten once per K batches instead of once per batch.
  //
  // Semantics are IDENTICAL to the direct tier, on the same key
  // ([[TelemetryKey]]): within a batch the greatest-tuple row wins
  // ([[dedupBatch]], shared), across batches the later batch wins (exactly
  // what serial [[upsertBatch]] merges produce), and both tiers fold with
  // [[foldWinners]] or [[foldDates]], so a drained-and-compacted
  // delta store is byte-identical to the direct sink's on the same
  // batches (pinned in StreamingSpec).
  //
  // Exactly-once in effect: a batch lands through [[landBatch]], the one
  // per-batch writer it shares with the MVs, so a replay replaces its
  // `batch=<id>` directory whole and a failed replay leaves it as it was.
  // Crash safety inside a compaction: winners are folded per-date via
  // [[graft.sources.Layout.upsertPartition]]'s swap invariant (re-folding
  // the same winner set is a key-replace no-op), and the folded delta
  // directories are deleted in ASCENDING batch order — a crash mid-delete
  // leaves only the HIGHEST batches pending, whose rows beat every stored
  // value they overlap by the later-batch-wins rule, so the re-fold is
  // idempotent. (Descending deletion would leave a LOWER batch pending
  // whose re-fold could overwrite an already-folded newer value.)
  //
  // Resolved pending set ([[Resolved]]): the landing process keeps
  // `deltaWinners(pending)` on the driver, so its reads and compactions,
  // in any of its sessions, merge against a local relation instead of
  // re-running the window over every pending delta. A compaction seeds it
  // empty; each landing of this process extends it with the landed rows
  // while it stays small (past [[Resolved.MaxRows]] winners the window
  // reads faster); any other state drops it. It is used only while the
  // store's pending files are exactly the ones it was built from, so a
  // store another process writes to takes the distributed plan, which
  // stays the reference.

  /** Pending delta directories under `rootDir/_delta`, ascending batch id.
    * The `_` prefix keeps them invisible to plain
    * `spark.read.parquet(rootDir)` readers (parquet hides `_`/`.` paths) —
    * the compacted day partitions stay a clean table and [[upsertRead]] is
    * the merge-on-read view that resolves what's pending.
    */
  private def deltaDirs(
      s: SparkSession,
      rootDir: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val root = new org.apache.hadoop.fs.Path(s"$rootDir/_delta")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else
      fs.listStatus(root)
        .toSeq
        .collect {
          case st if st.isDirectory && st.getPath.getName.startsWith("batch=") =>
            (st.getPath.getName.stripPrefix("batch=").toLong, st.getPath)
        }
        .sortBy(_._1)
  }

  /** Driver-side parquet footer reads, so the tier's DataFrames are built
    * with no Spark job. `read.parquet(dir)` without a schema runs one
    * schema-inference job per call, even for a single file, and that job
    * reads one footer anyway (`mergeSchema` is off): every file of a tier
    * directory comes from the same writer with the same schema. Reading
    * that footer here and passing `.schema(...)` gives the same schema.
    */
  private[graft] object Footers {
    import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
    import scala.jdk.CollectionConverters._

    /** Parquet data files directly under `dir`, skipping the `_`/`.`
      * names Spark's file index hides. */
    def files(fs: FileSystem, dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }

    def read(s: SparkSession, f: FileStatus): Footer = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(f, s.sparkContext.hadoopConfiguration))
      try new Footer(f.getPath, r.getFooter) finally r.close()
    }

    /** The Spark schema of one footer, converted as Spark's inference
      * converts it (the writer's schema string, else the parquet types). */
    def schema(s: SparkSession, f: Footer): StructType =
      org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        .readSchemaFromFooter(f,
          new org.apache.spark.sql.execution.datasources.parquet
            .ParquetToSparkSchemaConverter(s.sessionState.conf))

    /** A superset of the dates `column` holds in `footers`, as disjoint
      * inclusive ranges merged from every row group's min/max statistics.
      * A row group whose statistics show only nulls adds no range. None
      * when some row group has no usable statistics for the column: the
      * caller must then treat every date as touched.
      */
    def dateRanges(
        footers: Seq[Footer],
        column: String): Option[Seq[(java.time.LocalDate, java.time.LocalDate)]] = {
      import org.apache.parquet.column.statistics.IntStatistics
      val blocks = footers.flatMap(_.getParquetMetadata.getBlocks.asScala).map { b =>
        b -> b.getColumns.asScala.find(_.getPath.toDotString == column).map(_.getStatistics)
      }
      val usable = blocks.forall {
        case (_, Some(st: IntStatistics)) if st.hasNonNullValue => true
        case (b, Some(st)) => st.isNumNullsSet && st.getNumNulls == b.getRowCount
        case _ => false
      }
      if (!usable) None
      else Some(
        blocks
          .collect { case (_, Some(st: IntStatistics)) if st.hasNonNullValue =>
            (st.getMin, st.getMax) }
          .sorted
          .foldLeft(List.empty[(Int, Int)]) {
            case ((lo, hi) :: done, (a, b)) if a <= hi + 1 => (lo, math.max(hi, b)) :: done
            case (done, r) => r :: done
          }
          .reverse
          .map { case (lo, hi) =>
            (java.time.LocalDate.ofEpochDay(lo), java.time.LocalDate.ofEpochDay(hi)) })
    }
  }

  /** The live (compacted) store and its `event_date=` partition values,
    * None before the first compaction (a store with only `_delta` under it
    * has no live file to take a schema from). Built from one footer.
    */
  private def liveStore(
      s: SparkSession,
      rootDir: String): Option[(DataFrame, Seq[String])] = {
    val root = new org.apache.hadoop.fs.Path(rootDir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val parts =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.filter(st =>
        st.isDirectory && st.getPath.getName.startsWith("event_date="))
    parts.iterator.flatMap(p => Footers.files(fs, p.getPath)).nextOption().map { f =>
      val schema = Footers.schema(s, Footers.read(s, f)).add("event_date", DateType)
      (s.read.schema(schema).parquet(rootDir),
        parts.map(_.getPath.getName.stripPrefix("event_date=")))
    }
  }

  /** Every pending delta as one DataFrame with its `batch` partition
    * column, schema from `first` (any pending delta footer). */
  private def deltaStore(s: SparkSession, rootDir: String, first: Footer): DataFrame =
    s.read
      .schema(Footers.schema(s, first).add("batch", LongType))
      .parquet(s"$rootDir/_delta")

  /** Data files of every pending delta directory in `dirs`. */
  private def deltaFiles(
      s: SparkSession,
      dirs: Seq[(Long, org.apache.hadoop.fs.Path)]): Seq[org.apache.hadoop.fs.FileStatus] =
    dirs.flatMap { case (_, p) =>
      Footers.files(p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
    }

  /** Conflict resolution across pending deltas: later batch wins, then the
    * in-batch greatest-tuple tie-break — the order serial direct merges
    * produce. Input carries the discovered `batch` partition column.
    */
  private def deltaWinners(all: DataFrame): DataFrame = {
    val others = all.columns.filterNot(c =>
      c == SeriesCol || c == TsCol || c == "batch" || c == "event_date")
    firstPerKey(all,
      col("batch").cast("long").desc +: others.toIndexedSeq.map(c => col(c).desc_nulls_last))
      .drop("batch")
  }

  /** Path, length and modification time of each pending data file: what
    * a [[Resolved]] set must match to stand for the pending deltas. */
  private def signature(files: Seq[org.apache.hadoop.fs.FileStatus]): Set[(String, Long, Long)] =
    files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet

  /** The resolved pending set of one store, as this process knows it:
    * `deltaWinners` of the pending files in `sig`, keyed by the
    * [[TelemetryKey]] value pair. A null key value is one key, as
    * the window's partitioning groups it. `bytes` is the footer byte
    * total of every delta landed since the seeding compaction, an upper
    * bound on the rows held; `schema` is None while nothing is pending.
    *
    * It equals `deltaWinners(pending)` by induction: empty after a fold;
    * each landing was deduplicated in its batch, and a landing with a
    * higher batch id than every pending one wins on each key it carries.
    */
  private[graft] final class Resolved(
      val sig: Set[(String, Long, Long)],
      val maxBatch: Long,
      val bytes: Long,
      val schema: Option[StructType],
      val rows: Map[Row, Row]) {
    import scala.jdk.CollectionConverters._

    // the last reading session's local relation; a stream's landings run
    // in a session of their own, so the reader's is the one worth keeping
    private var view: Option[(SparkSession, DataFrame)] = None

    /** The winners as a local relation of `s`, built once per set and
      * reading session (no job): filters on it fold at optimization and
      * joins broadcast it. */
    def winners(s: SparkSession): DataFrame = synchronized {
      view.collect { case (vs, df) if vs eq s => df }.getOrElse {
        val df = s.createDataFrame(rows.values.toSeq.asJava, schema.get)
        view = Some(s -> df)
        df
      }
    }

    /** The winners of each `event_date` as local relations of `s`, with
      * the date as `Layout.upsertPartition` names it (null: no date). */
    def byDate(s: SparkSession): Seq[(String, DataFrame)] = {
      val d = schema.get.fieldIndex("event_date")
      rows.values.groupBy(r => r.get(d) match {
        case null => null
        case v: java.sql.Date => v.toLocalDate.toString
        case v => v.toString // java.time.LocalDate under the Java 8 time API
      }).toSeq.map { case (date, rs) => date -> s.createDataFrame(rs.toSeq.asJava, schema.get) }
    }
  }

  private[graft] object Resolved {
    // stores whose set one process keeps; a constant bound on driver memory
    private val MaxStores = 4
    /** Winner rows past which a set is dropped, below the measured
      * crossover where the local relation stops reading faster than the
      * distributed window (about 10 k rows when few dates are touched,
      * 25 k when all are; SCALING.md §"Merge-on-read priced"). */
    private[graft] val MaxRows = 8192
    /** Footer bytes (uncompressed) past which a set is dropped, whatever
      * its row count: a bound on the driver memory one set holds. */
    private val MaxBytes = 8L << 20
    // keyed by the qualified store path alone: the sets are process-wide,
    // so a stream's landings (in the stream's own session) serve the
    // reads of every session; the signature check is what makes a set
    // stand for the store, not the session that built it
    private val sets = new java.util.LinkedHashMap[String, Resolved](8, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Resolved]): Boolean =
        size > MaxStores
    }

    private def key(s: SparkSession, rootDir: String): String = {
      val p = new org.apache.hadoop.fs.Path(rootDir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).makeQualified(p).toString
    }

    def get(s: SparkSession, rootDir: String): Option[Resolved] =
      sets.synchronized(Option(sets.get(key(s, rootDir))))

    def put(s: SparkSession, rootDir: String, r: Resolved): Unit =
      sets.synchronized(sets.put(key(s, rootDir), r))

    def drop(s: SparkSession, rootDir: String): Unit =
      sets.synchronized(sets.remove(key(s, rootDir)))

    /** The set to merge against, when it stands for exactly `pending`. */
    def matching(
        s: SparkSession,
        rootDir: String,
        pending: Seq[org.apache.hadoop.fs.FileStatus]): Option[Resolved] =
      get(s, rootDir).filter(_.sig == signature(pending))

    /** A set of at most `rows` winners over `bytes` footer bytes is kept. */
    def fits(rows: Long, bytes: Long): Boolean = rows <= MaxRows && bytes <= MaxBytes

    /** Key columns whose external values compare as Spark groups them. */
    def keyable(t: DataType): Boolean = t match {
      case StringType | TimestampType | TimestampNTZType | DateType |
          LongType | IntegerType | ShortType | ByteType | BooleanType => true
      case _ => false
    }
  }

  /** The one writer of a per-batch directory, `dir/<name>=<batchId>`:
    * every upsert delta (`_delta/batch=N`) and every MV partial
    * (`batch_id=N`) lands here. A replayed batch REPLACES its directory
    * whole — the layout that makes an at-least-once `foreachBatch` sink
    * exactly-once in effect — and the replacement is atomic: `df` is
    * written to a dot-prefixed tmp dir (hidden from parquet readers and
    * from [[deltaDirs]] alike), then the old copy is deleted and the tmp
    * dir renamed in, which is atomic on every FileSystem this engine
    * targets (HDFS, and the local FS; object stores would use their
    * committer at this layer). A plain `mode(Overwrite)` on the directory
    * itself deletes it before the job runs, so a replay whose job fails
    * would leave the batch empty (a one-batch MV then fails schema
    * inference). A failed write leaves the previous copy untouched.
    * Returns the landed directory.
    */
  private def landBatch(
      df: DataFrame,
      dir: String,
      name: String,
      batchId: Long): org.apache.hadoop.fs.Path = {
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/.tmp_$name=$batchId")
    val dst = new org.apache.hadoop.fs.Path(s"$dir/$name=$batchId")
    df.write.mode("overwrite").parquet(tmp.toString)
    val fs = dst.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"batch landing rename failed: $tmp -> $dst")
    dst
  }

  /** One micro-batch of the delta-tier upsert ([[upsertDeltaSink]]):
    * [[dedupBatch]] per [[TelemetryKey]] value, land the winners
    * O(batch) with [[landBatch]] in the batch's own `_delta/batch=<id>`
    * directory, then compact if `compactEvery` deltas have accumulated.
    *
    * When the process holds the store's [[Resolved]] set, the landing
    * extends it with the landed rows, read back in one O(batch) job, if
    * the pending files before the landing were exactly the set's, the
    * batch id is above every pending one and the set stays within
    * [[Resolved.fits]] (the landed footers' row count bounds it before
    * the read-back). Otherwise the set is dropped. Without a set the
    * landing lists nothing extra.
    */
  def upsertDeltaBatch(
      batch: DataFrame,
      rootDir: String,
      batchId: Long,
      compactEvery: Int = 8): Unit = {
    if (batch.isEmpty) return
    val s = batch.sparkSession
    val prior = Resolved.get(s, rootDir)
      .map(r => r -> signature(deltaFiles(s, deltaDirs(s, rootDir))))
    Resolved.drop(s, rootDir)
    val dst = landBatch(dedupBatch(batch), s"$rootDir/_delta", "batch", batchId)
    val fs = dst.getFileSystem(s.sparkContext.hadoopConfiguration)
    prior.foreach { case (r, before) =>
      if (r.sig == before && batchId > r.maxBatch) {
        import scala.jdk.CollectionConverters._
        val landed = Footers.files(fs, dst)
        val footers = landed.map(Footers.read(s, _))
        val blocks = footers.flatMap(_.getParquetMetadata.getBlocks.asScala)
        val bytes = r.bytes + blocks.map(_.getTotalByteSize).sum
        // the landed row count bounds the set's new size before any read-back
        val rowsAtMost = r.rows.size + blocks.map(_.getRowCount).sum
        footers.headOption.map(Footers.schema(s, _)).filter(sc =>
          r.schema.forall(_ == sc) && Resolved.fits(rowsAtMost, bytes) &&
            Seq(SeriesCol, TsCol).forall(c => Resolved.keyable(sc(c).dataType))
        ).foreach { sc =>
          val (si, ti) = (sc.fieldIndex(SeriesCol), sc.fieldIndex(TsCol))
          val rows = s.read.schema(sc).parquet(dst.toString).collect()
          Resolved.put(s, rootDir, new Resolved(before ++ signature(landed), batchId, bytes,
            Some(sc), r.rows ++ rows.map(x => Row(x.get(si), x.get(ti)) -> x)))
        }
      }
    }
    if (deltaDirs(s, rootDir).size >= compactEvery)
      compactUpsertDeltas(s, rootDir)
  }

  /** Fold every pending delta into the day partitions (see the tier doc
    * above for the crash-safety argument); returns the number of delta
    * directories folded, with [[foldDates]] as in [[upsertBatch]].
    *
    * When the process's [[Resolved]] set matches the pending files, the
    * dates come from its rows and each date's updates are a local
    * relation: no persisted window and no distinct-date job. After every
    * folded directory is deleted the store has nothing pending that this
    * process did not see, so the set is seeded empty here, and only here.
    */
  def compactUpsertDeltas(s: SparkSession, rootDir: String): Int = {
    val dirs = deltaDirs(s, rootDir)
    val files = deltaFiles(s, dirs)
    if (files.isEmpty) return 0
    Resolved.matching(s, rootDir, files) match {
      case Some(r) => foldDates(s, rootDir, r.byDate(s))
      case None =>
        foldWinners(s, rootDir, deltaWinners(deltaStore(s, rootDir, Footers.read(s, files.head))))
    }
    Resolved.drop(s, rootDir)
    val fs = new org.apache.hadoop.fs.Path(rootDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // ASCENDING batch order, stopping at the first failed delete so only
    // the highest batches can stay pending
    val deleted = dirs.forall { case (_, p) => fs.delete(p, true) }
    if (deleted)
      Resolved.put(s, rootDir, new Resolved(
        Set.empty, dirs.last._1, 0L, None, Map.empty))
    dirs.size
  }

  /** Merge-on-read view of a delta-tier store: the compacted partitions
    * with every pending delta resolved (later batch wins, then the
    * greatest-tuple tie-break) — what a direct-tier reader would see if
    * every batch had been merged eagerly. Plain
    * `spark.read.parquet(rootDir)` remains valid for compacted-only reads.
    *
    * Building the view launches no Spark job: the compacted schema comes
    * from one parquet footer, read on the driver ([[Footers]]). Only the
    * caller's action runs jobs. (Past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`, 32
    * partition directories, Spark's own file index lists with one job.)
    * The read installs [[graft.sources.ParamLiterals]] into `s`, so the
    * caller's series id and time bounds stay out of the generated code of
    * the filter over each scan: a warm read with new bounds compiles
    * nothing there.
    *
    * Pending winners, two plans. When the process's [[Resolved]] set
    * was built from exactly the pending files listed here, the winners are
    * its local relation in `s` and the view is one scan of the compacted
    * store, anti-joined against the set and unioned with it. No pending
    * footer is read: the set's signature needs only the listing. The
    * caller's filters fold into the set at optimization (no generated
    * code for that branch) and the anti-join broadcasts it; a filter that
    * excludes every winner empties the set, and the optimizer
    * (`PropagateEmptyRelation`) leaves the compacted read's one scan.
    * Otherwise (another process landed, a replay, a crash, a pending set
    * past [[Resolved.fits]]) the winners are [[deltaWinners]] over every
    * pending delta, a window that each read plans twice, once per
    * anti-join side, with the schema and the touched dates taken from the
    * pending footers. Both build with no Spark job.
    *
    * Date-pruned anti-join, window plan only (r17;
    * BENCH_upsertread_sf100.json found the naive form paying 8.8x the
    * plain read at a worst-case backlog; its anti-join shuffles, where the
    * set's broadcasts): a
    * pending delta row can only replace a stored row on its OWN
    * `event_date` — both sides' partition date is `to_date` of the same
    * [[TelemetryKey]] value's timestamp, so equal keys imply equal
    * dates. Restricting the anti-join to any SUPERSET of the dates the
    * pending set touches is therefore exact; only a subset could drop a
    * replacement. The superset used is the union of the `event_date`
    * min/max statistics of every pending row group. It is exact for
    * time-ordered landings and covers the gaps between non-adjacent dates
    * otherwise, which only moves untouched rows into the anti-join.
    * Untouched partitions pass through without entering any exchange
    * (partition pruning at the scan), so the read tax is proportional to
    * touched-partition bytes + pending volume, not store size. If a
    * pending row group carries no `event_date` statistics, every date
    * counts as touched and the single-scan plan runs.
    *
    * Rejected alternative: landing each delta with
    * `partitionBy("event_date")` and listing the touched dates from its
    * directories cut read CPU as much, but wrote one file per touched
    * date per landing (8 instead of 1 on a 100 k-row, 30-day store landed
    * in 4 batches) and made those landings 15-20 % slower (4-core host).
    */
  def upsertRead(s: SparkSession, rootDir: String): DataFrame = {
    graft.sources.ParamLiterals.install(s)
    val files = deltaFiles(s, deltaDirs(s, rootDir))
    val live = liveStore(s, rootDir)
    if (files.isEmpty)
      return live.map(_._1).getOrElse(
        throw new IllegalStateException(s"no upsert store at $rootDir"))
    val set = Resolved.matching(s, rootDir, files)
    // the set's plan reads no pending footer: its signature is the listing
    val footers = if (set.isDefined) Seq.empty else files.map(Footers.read(s, _))
    val winners = set.map(_.winners(s))
      .getOrElse(deltaWinners(deltaStore(s, rootDir, footers.head)))
    live match {
      case None => winners
      case Some((lv, storeDates)) =>
        // in `in`'s column order, where the using-join puts the keys first
        def antiMerged(in: DataFrame): DataFrame = {
          val cols = in.columns.toIndexedSeq.map(col)
          in.join(winners.select(col(SeriesCol), col(TsCol)), Seq(SeriesCol, TsCol), "left_anti")
            .select(cols: _*)
            .unionByName(winners.select(cols: _*))
        }
        // the date split is the window plan's alone: the set's anti-join
        // broadcasts, so its plan stays one scan
        (if (set.isDefined) None else Footers.dateRanges(footers, "event_date")) match {
          case None => antiMerged(lv)
          case Some(ranges) =>
            // when the pending set touches most of the store (backfill),
            // the split degenerates — one untouched branch pruned to
            // nothing plus plan overhead — so keep the single-scan plan
            // there and split only when at least half the partitions can
            // skip the exchange
            val untouchedN = storeDates.count(d =>
              d != "__HIVE_DEFAULT_PARTITION__" && {
                val day = java.time.LocalDate.parse(d)
                !ranges.exists { case (lo, hi) => !day.isBefore(lo) && !day.isAfter(hi) }
              })
            if (untouchedN * 2 < storeDates.length) antiMerged(lv)
            else {
              // NATIVE date literals: a cast around the partition column
              // would defeat partition pruning and turn both branches into
              // full row-filtered scans (measured: backlog-8 worst case
              // 4.9 s vs the naive plan's 2.1 s at sf10). isNull first:
              // null-date store rows ride the anti-join branch (where SQL
              // null-join semantics keep them, matching the single-scan
              // plan) instead of being dropped by both filters.
              val touched = ranges.foldLeft(col("event_date").isNull) {
                case (p, (lo, hi)) => p || col("event_date").between(lit(lo), lit(hi))
              }
              lv.filter(!touched).unionByName(antiMerged(lv.filter(touched)))
            }
        }
    }
  }

  /** Delta-tier streaming upsert: [[upsertSink]]'s replace semantics at
    * O(batch) landing cost regardless of arrival order — the mitigation
    * for the shuffled-arrival regime STREAMBENCH_sf10.json priced
    * (77.9 k vs 502 k rows/s when every batch touches every date
    * partition). Late/backfill traffic lands in per-batch delta
    * directories; the store is rewritten once per `compactEvery` batches
    * (compaction) instead of once per batch. Readers wanting
    * read-your-writes use [[upsertRead]]; plain parquet readers see the
    * compacted table.
    */
  def upsertDeltaSink(
      telemetry: DataFrame,
      outDir: String,
      checkpointDir: String,
      trigger: Trigger = DefaultTrigger,
      compactEvery: Int = 8): DataStreamWriter[Row] =
    batchSink(telemetry, checkpointDir, trigger)(upsertDeltaBatch(_, outDir, _, compactEvery))

  /** One micro-batch of the streaming quantile-sketch MV ([[sketchMvSink]]),
    * exposed for direct replay testing: aggregate the batch into per
    * (series, day) KLL partials and land them with [[landBatch]] in this
    * batch's own `batch_id=N` directory. Idempotence comes from the
    * layout, not from the sketch: KLL merge is NOT idempotent (re-merging
    * the same values doubles their weight), so a replayed batch must
    * REPLACE its previous partials rather than add to them.
    */
  def sketchMvBatch(batch: DataFrame, mvDir: String, batchId: Long): Unit = {
    if (batch.isEmpty) return
    landBatch(
      batch
        .withColumn("day", to_date(col("timestamp")))
        .groupBy(col("timeseries_id"), col("day"))
        .agg(kll_sketch_agg_double(col("value"), graft.U.KllK).as("sketch")),
      mvDir, "batch_id", batchId)
  }

  /** Streaming maintenance of the mergeable quantile-sketch MV — the
    * q_agg_kll_mv stored artifact kept current by the stream instead of a
    * batch rebuild: each micro-batch appends one KLL partial per (series,
    * day) it touches, and [[mvQuantiles]] answers a range query by
    * re-merging the stored partials — never rescanning raw events. This is
    * the reference's periodic-recompute loop (`main.rs:234-240`) inverted:
    * the scan work is amortized into ingest, and a p99-over-a-week at
    * 100 TB reads (series x days x batches) sketch rows, not events.
    * Exactly-once in effect: partials land per batch directory
    * ([[sketchMvBatch]]), so at-least-once replay replaces rather than
    * double-merges. StreamingSpec asserts stream-MV == direct batch sketch
    * on the same rows, replay idempotence, and day-range pruning.
    */
  def sketchMvSink(
      telemetry: DataFrame,
      mvDir: String,
      checkpointDir: String,
      trigger: Trigger = DefaultTrigger): DataStreamWriter[Row] =
    batchSink(telemetry, checkpointDir, trigger)(sketchMvBatch(_, mvDir, _))

  /** Range read over the [[sketchMvSink]] MV: union-merge the stored daily
    * partials per series across `[startDay, endDay]` and read the
    * quantiles off the merged sketch (Karnin-Lang-Liberty 2016 merge —
    * associative, so partial-per-batch vs partial-per-day storage is
    * indistinguishable to the reader). The day filter prunes before the
    * merge; only sketch rows ever move.
    */
  def mvQuantiles(
      spark: SparkSession,
      mvDir: String,
      startDay: String,
      endDay: String): DataFrame =
    spark.read
      .parquet(mvDir)
      .filter(col("day").between(lit(startDay).cast("date"), lit(endDay).cast("date")))
      .groupBy(col("timeseries_id"))
      .agg(kll_merge_agg_double(col("sketch"), graft.U.KllK).as("m"))
      .select(
        col("timeseries_id"),
        kll_sketch_get_n_double(col("m")).as("n"),
        kll_sketch_get_quantile_double(col("m"), lit(0.5)).as("p50"),
        kll_sketch_get_quantile_double(col("m"), lit(0.95)).as("p95"),
        kll_sketch_get_quantile_double(col("m"), lit(0.99)).as("p99"))

  // ---- Streaming count-MV + data-mix drift monitor ----

  /** One micro-batch of the daily count MV ([[countMvSink]]): per
    * (series, day) row counts landed with [[landBatch]]. Counts merge by
    * SUM across stored partials, so the per-batch replacement makes
    * replay exactly-once in effect.
    */
  def countMvBatch(batch: DataFrame, mvDir: String, batchId: Long): Unit = {
    if (batch.isEmpty) return
    landBatch(
      batch
        .withColumn("day", to_date(col("timestamp")))
        .groupBy(col("timeseries_id"), col("day"))
        .agg(count(lit(1)).as("n")),
      mvDir, "batch_id", batchId)
  }

  /** Streaming maintenance of the per-(series, day) count MV — the input
    * the data-mix monitors ([[mvMixDrift]]) read instead of rescanning
    * raw events. Caller starts the returned writer (`.start()`).
    */
  def countMvSink(
      telemetry: DataFrame,
      mvDir: String,
      checkpointDir: String,
      trigger: Trigger = DefaultTrigger): DataStreamWriter[Row] =
    batchSink(telemetry, checkpointDir, trigger)(countMvBatch(_, mvDir, _))

  /** Data-mix drift off the [[countMvSink]] MV — the batch `q_ts_drift`
    * semantics (older vs newer half of the observed day range, exact ppm
    * shares, cross-multiplied total-variation numerators over the shared
    * denominator 2·t_old·t_new) computed from stored daily counts, never
    * raw events: at 100 TB the monitor reads (series × days × batches)
    * count rows. All integer arithmetic — bit-stable at any parallelism
    * and identical to the batch operator's by construction.
    */
  def mvMixDrift(s: SparkSession, mvDir: String): DataFrame = {
    val daily = s.read
      .parquet(mvDir)
      .select(
        col("timeseries_id"),
        expr("CAST(datediff(day, DATE '1970-01-01') AS BIGINT)").as("day"),
        col("n"))
      .groupBy(col("timeseries_id"), col("day"))
      .agg(sum(col("n")).as("n"))
    val b = daily.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val t = daily
      .crossJoin(broadcast(b))
      .groupBy(col("timeseries_id"))
      .agg(
        sum(when(col("day") < col("mid"), col("n")).otherwise(0L)).as("n_old"),
        sum(when(col("day") >= col("mid"), col("n")).otherwise(0L)).as("n_new"))
    val tot = t.agg(sum(col("n_old")).as("t_old"), sum(col("n_new")).as("t_new"))
    t.crossJoin(broadcast(tot))
      .select(
        col("timeseries_id"),
        col("n_old"),
        col("n_new"),
        when(col("t_old") > 0, expr("n_old * 1000000 div t_old")).as("ppm_old"),
        when(col("t_new") > 0, expr("n_new * 1000000 div t_new")).as("ppm_new"),
        abs(col("n_old") * col("t_new") - col("n_new") * col("t_old"))
          .as("drift_num"),
        (lit(2L) * col("t_old") * col("t_new")).as("drift_den"))
      .orderBy("timeseries_id")
  }

  // ---- Streaming heavy-hitters MV (Misra-Gries partials) ----

  /** Misra-Gries counters per summary, at landing and at merge: the read's
    * guarantee threshold n/(k+1) holds only for the writer's k. */
  private val HhK = 8

  /** One micro-batch of the heavy-hitters MV ([[hhMvSink]]): the batch's
    * series ids fold into ONE Misra-Gries summary row (bounded counter
    * map + total n) per day, landed with [[landBatch]] — the third
    * classic mergeable summary in the MV family (counts:
    * [[countMvBatch]]; quantiles: [[sketchMvBatch]]; frequent items:
    * here). Replay replaces the directory with a VALID summary
    * of the same rows; within MG's exact regime (k >= distinct items per
    * batch-day) that summary is the exact count map regardless of row
    * order, beyond it the MG guarantee — est in [f - n/(k+1), f] — is
    * the invariant, not the bytes.
    */
  def hhMvBatch(batch: DataFrame, mvDir: String, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val mgUdaf = org.apache.spark.sql.functions.udaf(
      new graft.functions.HeavyHitters.MisraGries(HhK),
      org.apache.spark.sql.Encoders.STRING)
    landBatch(
      batch
        .withColumn("day", to_date(col("timestamp")))
        .groupBy(col("day"))
        .agg(
          mgUdaf(col("timeseries_id")).as("hh"),
          count(lit(1)).as("n")),
      mvDir, "batch_id", batchId)
  }

  /** Streaming maintenance of the Misra-Gries heavy-hitters MV. Caller
    * starts the returned writer (`.start()`).
    */
  def hhMvSink(
      telemetry: DataFrame,
      mvDir: String,
      checkpointDir: String,
      trigger: Trigger = DefaultTrigger): DataStreamWriter[Row] =
    batchSink(telemetry, checkpointDir, trigger)(hhMvBatch(_, mvDir, _))

  /** Heavy hitters over the [[hhMvSink]] MV for a day range: merge the
    * stored per-batch summaries (O(k) each, k = [[HhK]] — raw rows are
    * never rescanned) and report each retained series with its estimate,
    * the merged total, and the guarantee threshold n/(k+1): every series with
    * true frequency above it is PRESENT, and est <= f <= est + n/(k+1).
    */
  def mvHeavyHitters(
      s: SparkSession,
      mvDir: String,
      startDay: String,
      endDay: String): DataFrame = {
    val mergeUdaf = org.apache.spark.sql.functions.udaf(
      new graft.functions.HeavyHitters.MisraGriesMerge(HhK),
      org.apache.spark.sql.Encoders.product[
        graft.functions.HeavyHitters.MGSummary])
    s.read
      .parquet(mvDir)
      .filter(col("day").between(
        lit(startDay).cast("date"), lit(endDay).cast("date")))
      .agg(mergeUdaf(col("hh"), col("n")).as("m"))
      .select(explode(col("m.counts")).as(Seq("timeseries_id", "est")),
        col("m.n").as("n_total"))
      .withColumn("threshold", expr(s"n_total div (${HhK + 1})"))
      .orderBy(col("est").desc, col("timeseries_id"))
  }

  // ---- Streaming Count-Min frequency MV ----

  /** One micro-batch of the Count-Min frequency MV (`q_agg_cm_mv`'s
    * streaming maintenance path): the batch's series ids hash into
    * depth×width = 4×512 count cells per day ([[CountMin]], shared with
    * the reader [[cmEstimate]]), landed with [[landBatch]].
    * Cells merge by SUM across stored partials (each cell is an
    * independent count — Cormode & Muthukrishnan 2005), so replay is
    * exactly-once in effect as for [[countMvBatch]], and unlike the MG
    * summary the replayed bytes are IDENTICAL regardless of row order.
    * The bucket hash is [[graft.functions.Md5Prefix64]] — deterministic
    * and engine-portable, so any md5-capable engine can read the MV.
    */
  def cmMvBatch(batch: DataFrame, mvDir: String, batchId: Long): Unit = {
    if (batch.isEmpty) return
    landBatch(
      batch
        .withColumn("day", to_date(col("timestamp")))
        .withColumn("dep", CountMin.deps)
        .groupBy(
          col("day"),
          col("dep"),
          CountMin.bucket(col("dep"), col("timeseries_id")).as("bkt"))
        .agg(count(lit(1)).as("cnt")),
      mvDir, "batch_id", batchId)
  }

  /** Streaming maintenance of the Count-Min frequency MV. Caller starts
    * the returned writer (`.start()`).
    */
  def cmMvSink(
      telemetry: DataFrame,
      mvDir: String,
      checkpointDir: String,
      trigger: Trigger = DefaultTrigger): DataStreamWriter[Row] =
    batchSink(telemetry, checkpointDir, trigger)(cmMvBatch(_, mvDir, _))

  /** Point-frequency estimates over the [[cmMvSink]] MV for a day range:
    * re-ADD the stored cells across the range (the day filter prunes
    * before the merge; only (days × batches × 2048)-bounded integer cell
    * rows ever move — raw telemetry is never rescanned), then estimate
    * each queried key as the min over its 4 hashed cells. The estimate is
    * one-sided: est >= true always (colliding keys only inflate), with
    * the usual CM overcount bound w.h.p. A key whose cell has no stored
    * row in the range truly has count 0 — the left join's null fills as
    * 0 and the min reports it.
    */
  def cmEstimate(
      s: SparkSession,
      mvDir: String,
      keys: Seq[String],
      startDay: String,
      endDay: String): DataFrame = {
    import s.implicits._
    val cells = s.read
      .parquet(mvDir)
      .filter(col("day").between(
        lit(startDay).cast("date"), lit(endDay).cast("date")))
      .groupBy(col("dep"), col("bkt"))
      .agg(sum(col("cnt")).as("cell"))
    val probes = keys.toDF("timeseries_id")
      .withColumn("dep", CountMin.deps)
      .withColumn("bkt", CountMin.bucket(col("dep"), col("timeseries_id")))
    probes
      .join(broadcast(cells), Seq("dep", "bkt"), "left")
      .na.fill(0L, Seq("cell"))
      .groupBy(col("timeseries_id"))
      .agg(min(col("cell")).as("est"))
      .orderBy("timeseries_id")
  }

  // ---- Streaming incremental near-dup dedup (MinHash-LSH index) ----

  /** Signature slots a new doc must share with an earlier one to drop: 26
    * of [[MinHashSig.Perms]], about Jaccard 0.8. */
  private val MinAgree = 26

  /** (doc_id, sig) MinHash signatures for the batch's docs with >= 3
    * tokens (shorter docs cannot shingle, so they can never near-dup —
    * they are kept and stored with a null signature).
    */
  private def minhashSigs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), graft.U.words.as("w"))
      .filter(size(col("w")) >= 3)
      .select(
        col("doc_id"),
        MinHashSig.minhashSig(graft.functions.Shingles.shingles(col("w"), 3), MinHashSig.Perms)
          .as("sig"))

  /** (doc_id, band, bucket) LSH band buckets of a signature frame. */
  private def bandsOf(sigs: DataFrame): DataFrame =
    sigs
      .select(col("doc_id"), posexplode(MinHashSig.bandHashes(col("sig"))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  private def readStore(s: SparkSession, dir: String): Option[DataFrame] = {
    // Only "no store yet" maps to None. A blanket Try(...).toOption here
    // would also swallow transient read failures (permissions, corrupt
    // footer) — and a batch that silently matched against NOTHING would
    // admit every duplicate and break replay idempotence. Those must
    // propagate and fail the micro-batch so the trigger retries.
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None else Some(s.read.parquet(dir))
  }

  /** One micro-batch of the streaming near-dup index
    * ([[minhashDedupSink]]), exposed for direct replay testing.
    *
    * Semantics (greedy stream dedup, the corpus-ingest standard): a new
    * doc is DROPPED iff its MinHash signature agrees with any
    * earlier-seen doc's on >= [[MinAgree]] of the 32 permutations —
    * "earlier" meaning any stored doc from batches < `batchId`, or any
    * same-batch doc with a LOWER doc_id (so two deliveries of the same
    * batch resolve identically). The canonical match recorded is the one
    * with the highest agreement, ties to the lowest doc_id — a
    * min(struct) over integers, order-independent at any parallelism.
    *
    * Exactly-once in effect: candidate generation reads ONLY batches
    * < `batchId` from the store, and both outputs land with
    * [[landBatch]] (`sigs/` — survivors' signatures, the accumulating LSH
    * index; `decisions/` — (doc_id, dup_of, agree) drops), so an
    * at-least-once replay rewrites byte-identical content instead of
    * re-matching against its own previous attempt.
    *
    * Scale: the stored index is signatures (256 B/doc) + band buckets
    * derived on read — never text; candidates come from bucket equi-joins
    * (the batch side is micro-batch-sized, so Spark broadcasts it); the
    * per-pair verify is integer agreement over 32 positions. At 100 TB of
    * corpus the store is ~0.3% of it, and each micro-batch touches only
    * its own collision buckets.
    */
  def minhashDedupBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    if (batch.isEmpty) return
    val sigs = minhashSigs(batch).localCheckpoint()
    val emptySigs = Seq.empty[(Long, Seq[Long])].toDF("doc_id", "sig")
    val oldSigs = readStore(s, s"$storeDir/sigs")
      .map(_.filter(col("batch_id") < batchId && col("sig").isNotNull)
        .select(col("doc_id"), col("sig")))
      .getOrElse(emptySigs)
    val newBands = bandsOf(sigs)
    val crossBatch = newBands
      .as("n")
      .join(bandsOf(oldSigs).as("o"),
        col("n.band") === col("o.band") && col("n.bucket") === col("o.bucket"))
      .select(col("n.doc_id").as("nid"), col("o.doc_id").as("oid"))
    val intraBatch = newBands
      .as("x")
      .join(newBands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") > col("y.doc_id"))
      .select(col("x.doc_id").as("nid"), col("y.doc_id").as("oid"))
    val agree = size(filter(
      zip_with(col("nsig"), col("osig"), (x, y) => x === y),
      p => p)).cast("long")
    val decisions = crossBatch
      .unionAll(intraBatch)
      .distinct()
      .join(sigs.select(col("doc_id").as("nid"), col("sig").as("nsig")), "nid")
      .join(
        sigs.select(col("doc_id").as("oid"), col("sig").as("osig"))
          .unionAll(oldSigs.select(col("doc_id").as("oid"), col("sig").as("osig"))),
        "oid")
      .select(col("nid"), col("oid"), agree.as("agree"))
      .filter(col("agree") >= MinAgree)
      .groupBy(col("nid"))
      .agg(min(struct(
        (lit(MinHashSig.Perms.toLong) - col("agree")).as("d"),
        col("oid").as("dup_of"))).as("m"))
      .select(
        col("nid").as("doc_id"),
        col("m.dup_of").as("dup_of"),
        (lit(MinHashSig.Perms.toLong) - col("m.d")).as("agree"))
      .localCheckpoint()
    landBatch(decisions, s"$storeDir/decisions", "batch_id", batchId)
    landBatch(
      batch
        .select(col("doc_id"))
        .join(decisions.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .join(sigs, Seq("doc_id"), "left"),
      s"$storeDir/sigs", "batch_id", batchId)
  }

  /** Streaming incremental near-dup dedup — the streaming form of batch
    * `q_dedup_incremental` upgraded from exact to NEAR duplicate: each
    * micro-batch of documents is checked against the accumulating
    * MinHash-LSH signature index (and itself), drops are recorded with
    * their canonical match, and survivors extend the index. This is the
    * continuous-crawl corpus-ingest shape: dedup amortized into ingest,
    * no periodic full-corpus recompute. Caller starts the returned writer
    * (`.start()`), same contract as [[ingestFiles]]. StreamingSpec
    * asserts cross-batch and intra-batch drops, survivor indexing, and
    * replay idempotence.
    */
  def minhashDedupSink(
      docs: DataFrame,
      storeDir: String,
      checkpointDir: String,
      trigger: Trigger = DefaultTrigger): DataStreamWriter[Row] =
    batchSink(docs, checkpointDir, trigger)(minhashDedupBatch(_, storeDir, _))

  /** The surviving (deduplicated) doc ids in the [[minhashDedupSink]]
    * index, with the batch that admitted each.
    */
  def dedupSurvivors(s: SparkSession, storeDir: String): DataFrame =
    s.read.parquet(s"$storeDir/sigs")
      .select(col("doc_id"), col("batch_id").cast("long").as("batch_id"))

  /** Every drop decision recorded by [[minhashDedupSink]]: (doc_id,
    * dup_of, agree, batch_id).
    */
  def dedupDecisions(s: SparkSession, storeDir: String): DataFrame =
    s.read.parquet(s"$storeDir/decisions")
      .select(
        col("doc_id"),
        col("dup_of"),
        col("agree"),
        col("batch_id").cast("long").as("batch_id"))

  /** Stream-stream interval join: pair each left-stream event with the
    * right-stream events for the same series arriving within `maxDelay`
    * AFTER it (ad-tech click-attribution shape, telemetry-flavored: e.g.
    * command stream ⋈ response stream). BOTH sides carry a watermark and
    * the join condition bounds event time in both directions — that is
    * what lets Spark evict buffered rows once the watermark passes
    * `l_ts + maxDelay`; an unbounded condition would buffer both streams
    * forever (the stream-stream analogue of the dropDuplicates state leak).
    *
    * `joinType = "left_outer"` additionally emits left rows that found no
    * match — but only AFTER the watermark closes their window (the match
    * can't be ruled out earlier), which is exactly the state-eviction
    * moment; StreamingSpec pins that timing.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      maxDelay: String = "10 minutes",
      watermark: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    // other types would be silently wrong here: right_outer loses the
    // series id of null-padded rows (the key is projected from the left
    // side), and semi/anti don't produce the right-side columns we select
    require(
      joinType == "inner" || joinType == "left_outer",
      s"intervalJoin supports inner and left_outer, got $joinType")
    val l = left
      .withWatermark("timestamp", watermark)
      .select(
        col("timeseries_id"),
        col("timestamp").as("l_ts"),
        col("value").as("l_value"))
    val r = right
      .withWatermark("timestamp", watermark)
      .select(
        col("timeseries_id").as("r_id"),
        col("timestamp").as("r_ts"),
        col("value").as("r_value"))
    l.join(
        r,
        col("timeseries_id") === col("r_id") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxDelay"),
        joinType)
      .select(
        col("timeseries_id"),
        col("l_ts"),
        col("r_ts"),
        col("l_value"),
        col("r_value"))
  }

  /** Streaming exact dedup — the streaming counterpart of batch
    * `q_dedup_exact`: drop records whose content digest was already seen.
    * Uses `dropDuplicatesWithinWatermark`, NOT `dropDuplicates`: plain
    * streaming dropDuplicates keeps every key ever seen in state forever
    * (the same unbounded-state failure mode `faultRuns` avoids with its
    * TTL), while the watermark variant evicts a digest once the watermark
    * passes it — state is bounded by the duplicate-arrival horizon. The
    * dedup key is md5 over ALL the record's content fields at full
    * event-time precision — micros, not a second-truncated cast, and
    * including sensor_name and fc1_flag — so two genuinely distinct
    * readings can never collapse into one digest (16-byte state entries,
    * same digest-not-body discipline as the batch operator). A null flag
    * digests as the marker "-" which no real flag value collides with.
    * Duplicates in a telemetry stream come from at-least-once upstream
    * delivery, which re-sends within seconds-to-minutes, so a
    * watermark-bounded horizon is the semantically right window (an exact
    * global dedup is the batch operator's job downstream).
    */
  def dedupExact(
      telemetry: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    telemetry
      .withColumn(
        "content_md5",
        md5(concat_ws(
          "|",
          // concat_ws silently SKIPS nulls, which would conflate a null
          // field with an absent one (shifting every later token left) —
          // null-mark EVERY nullable field, value and id included
          coalesce(col("timeseries_id"), lit("-")),
          coalesce(col("sensor_name"), lit("-")),
          unix_micros(col("timestamp")),
          coalesce(col("value").cast("string"), lit("-")),
          coalesce(col("fc1_flag").cast("string"), lit("-")))))
      .withWatermark("timestamp", watermark)
      .dropDuplicatesWithinWatermark("content_md5")

  /** Session windows per series: a session closes after `gap` of event-time
    * silence. Streaming analog of batch `q_ts_session` (lag + cumulative sum).
    */
  def sessionize(
      telemetry: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    telemetry
      .withWatermark("timestamp", watermark)
      .groupBy(
        col("timeseries_id"),
        session_window(col("timestamp"), gap).as("sess"))
      .agg(count(lit(1)).as("n_rows"), graft.U.dsum(col("value")).as("sum_value"))
      .select(
        col("timeseries_id"),
        col("sess.start").as("session_start"),
        col("sess.end").as("session_end"),
        col("n_rows"),
        col("sum_value"))
}
