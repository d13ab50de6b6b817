package graft

import graft.sources.Layout
import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Streaming operators verified by batch equivalence (SURVEY.md §5.2.4):
  * each group-J transform run over a MemoryStream (complete/append output to
  * a memory sink) must equal the same transform applied to the same rows as
  * a batch frame — including late-arriving rows admitted by the watermark.
  */
/** Top-level so Spark can derive an Encoder (inner classes need outer scope). */
case class Tele(
    sensor_name: String, timestamp: Timestamp, value: Double,
    fc1_flag: Option[Byte], timeseries_id: String)

/** Document record for the streaming near-dup dedup tests. */
case class Doc(doc_id: Long, text: String)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val rows = Seq(
    Tele("Sa_FanSpeed", ts("2024-08-28 12:00:10"), 0.96, None, "id-a"),
    Tele("Sa_FanSpeed", ts("2024-08-28 12:01:00"), 0.50, None, "id-a"),
    Tele("Sa_FanSpeed", ts("2024-08-28 12:06:00"), 0.99, None, "id-a"),
    Tele("Oa_Temp",     ts("2024-08-28 12:02:00"), 0.97, None, "id-b"),
    // late row: arrives after the 12:06 row but belongs to the first window
    Tele("Sa_FanSpeed", ts("2024-08-28 12:03:00"), 0.98, None, "id-a"),
    Tele("Sa_FanSpeed", ts("2024-08-28 13:00:00"), 0.10, None, "id-a"))

  // Default trigger, not AvailableNow: AvailableNow snapshots the available
  // offsets at start(), so data added afterwards silently never processes
  // (observed as intermittently empty sinks); the default micro-batch loop
  // plus processAllAvailable() is race-free for add-then-drain tests.
  private def runComplete(
      name: String)(xform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Tele]
    val q = xform(mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode("complete")
      .start()
    mem.addData(rows.take(4))
    q.processAllAvailable()
    mem.addData(rows.drop(4))
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("faultCounts stream == batch on same rows, late row lands in its window") {
    val streamed = runComplete("fc_stream")(df =>
      Streams.faultCounts(df, threshold = 0.95))
    val batch = Streams.faultCounts(rows.toDF(), threshold = 0.95)
    assert(
      streamed.orderBy("timeseries_id", "window_start").collect().toSeq ===
        batch.orderBy("timeseries_id", "window_start").collect().toSeq)
    // the late 12:03 fault (0.98) must be counted in the 12:00 window
    val w0 = streamed
      .filter(col("timeseries_id") === "id-a" &&
        col("window_start") === ts("2024-08-28 12:00:00"))
      .head()
    assert(w0.getAs[Long]("n_faults") === 2) // 0.96 and late 0.98
  }

  test("hoppingCounts stream == batch; every event lands in its 3 overlapping windows") {
    val streamed = runComplete("hop_stream")(df => Streams.hoppingCounts(df))
    val batch = Streams.hoppingCounts(rows.toDF())
    assert(
      streamed.orderBy("timeseries_id", "window_start").collect().toSeq ===
        batch.orderBy("timeseries_id", "window_start").collect().toSeq)
    // 15m/5m hop: the 12:00:10 event must appear in windows starting
    // 11:50, 11:55, and 12:00 — the constant 3-way fan-out
    val w = streamed
      .filter(col("timeseries_id") === "id-a" &&
        col("window_start").isin(
          ts("2024-08-28 11:50:00"), ts("2024-08-28 11:55:00"),
          ts("2024-08-28 12:00:00")))
      .collect()
    assert(w.length === 3, s"expected the event in 3 hopping windows, got ${w.length}")
  }

  test("qualityGate: per-window per-rule violation counts; stream == batch") {
    val qrows = Seq(
      Tele("S", ts("2024-08-28 12:00:10"), 0.5, None, "id-a"), // clean
      Tele("S", ts("2024-08-28 12:01:00"), 1.5, None, "id-a"), // range (hi)
      Tele("S", ts("2024-08-28 12:02:00"), Double.NaN, Some(1: Byte), "id-a"), // range (NaN)
      Tele("S", ts("2024-08-28 12:03:00"), 0.7, Some(7: Byte), null), // flag + id
      Tele("S", ts("2024-08-28 12:07:00"), 0.2, Some(0: Byte), "id-b")) // clean, window 2
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Tele]
    val q = Streams.qualityGate(mem.toDF())
      .writeStream.format("memory").queryName("qg_stream").outputMode("complete")
      .start()
    mem.addData(qrows)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("qg_stream")
    val batch = Streams.qualityGate(qrows.toDF())
    assert(
      streamed.orderBy("window_start", "rule_id").collect().toSeq ===
        batch.orderBy("window_start", "rule_id").collect().toSeq)
    val w0 = streamed
      .filter(col("window_start") === ts("2024-08-28 12:00:00"))
      .collect().map(r => r.getAs[String]("rule_id") -> r).toMap
    assert(w0("rv_value_range").getAs[Long]("n_checked") === 4L)
    assert(w0("rv_value_range").getAs[Long]("n_violations") === 2L) // 1.5 + NaN
    assert(w0("rv_id_present").getAs[Long]("n_violations") === 1L)  // null id
    assert(w0("rv_flag_domain").getAs[Long]("n_violations") === 1L) // flag 7
    val w1 = streamed
      .filter(col("window_start") === ts("2024-08-28 12:05:00"))
      .collect()
    assert(w1.length === 3 && w1.forall(_.getAs[Long]("n_violations") === 0L))
    // malformed STRING flags must fail the domain rule, not slip through:
    // 'abc' casts to NULL (unparseable), '1.7' stays fractional; '1' and
    // a NULL flag conform
    val weird = Seq(
      ("2024-08-28 12:00:10", "id-a", 0.5, "abc"),
      ("2024-08-28 12:00:20", "id-a", 0.5, "1.7"),
      ("2024-08-28 12:00:30", "id-a", 0.5, "1"),
      ("2024-08-28 12:00:40", "id-a", 0.5, null))
      .toDF("ts_s", "timeseries_id", "value", "fc1_flag")
      .select(
        col("ts_s").cast("timestamp").as("timestamp"),
        col("timeseries_id"), col("value"), col("fc1_flag"))
    val wf = Streams.qualityGate(weird)
      .filter(col("rule_id") === "rv_flag_domain").collect()
    assert(wf.map(_.getAs[Long]("n_violations")).sum === 2L,
      "unparseable and fractional flags must both count as violations")
  }

  test("sessionize stream == batch on same rows") {
    val streamed = runComplete("sess_stream")(df =>
      Streams.sessionize(df))
    val batch = Streams.sessionize(rows.toDF())
    assert(
      streamed.orderBy("timeseries_id", "session_start").collect().toSeq ===
        batch.orderBy("timeseries_id", "session_start").collect().toSeq)
    // 13:00 row is > 30 min after 12:06 -> id-a has 2 sessions
    assert(streamed.filter(col("timeseries_id") === "id-a").count() === 2)
  }

  test("append mode: watermark finalizes windows and DROPS data later than the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Tele]
    val q = Streams.faultCounts(mem.toDF(), threshold = 0.95, watermark = "10 minutes")
      .writeStream.format("memory").queryName("wm_drop")
      .outputMode("append").start()
    def t(s: String, v: Double) = Tele("Sa_FanSpeed", ts(s), v, None, "id-a")
    // b1: one fault in the 12:00 window
    mem.addData(Seq(t("2024-08-28 12:01:00", 0.99)))
    q.processAllAvailable()
    // b2: event at 13:00 -> after this batch the watermark is 12:50
    mem.addData(Seq(t("2024-08-28 13:00:00", 0.10)))
    q.processAllAvailable()
    // b3: another batch lets the finalized 12:00 window emit
    mem.addData(Seq(t("2024-08-28 13:01:00", 0.10)))
    q.processAllAvailable()
    val emitted = spark.table("wm_drop")
      .filter(col("window_start") === ts("2024-08-28 12:00:00")).collect()
    assert(emitted.length === 1 && emitted.head.getAs[Long]("n_rows") === 1)
    // b4: a row for the already-finalized 12:00 window, far behind the
    // watermark -> dropped, the emitted window must NOT change or re-emit
    mem.addData(Seq(t("2024-08-28 12:02:00", 0.99)))
    q.processAllAvailable()
    mem.addData(Seq(t("2024-08-28 13:02:00", 0.10)))
    q.processAllAvailable()
    q.stop()
    val after = spark.table("wm_drop")
      .filter(col("window_start") === ts("2024-08-28 12:00:00")).collect()
    assert(after.length === 1, "finalized window must not re-emit for a too-late row")
    assert(after.head.getAs[Long]("n_rows") === 1,
      "too-late row must be dropped, not merged into the finalized window")
  }

  test("dedupExact drops at-least-once redelivery within the watermark, keeps distinct rows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Tele]
    val q = Streams.dedupExact(mem.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    val r1 = Tele("Sa_FanSpeed", ts("2024-08-28 12:00:10"), 0.96, None, "id-a")
    val r2 = Tele("Sa_FanSpeed", ts("2024-08-28 12:01:00"), 0.50, None, "id-a")
    mem.addData(Seq(r1, r2, r1)) // duplicate inside one micro-batch
    q.processAllAvailable()
    mem.addData(Seq(r1)) // redelivery in a LATER micro-batch (state hit)
    q.processAllAvailable()
    val r3 = r2.copy(timestamp = ts("2024-08-28 12:08:00")) // new content
    mem.addData(Seq(r3))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_stream")
    assert(out.count() === 3, "exactly one row per distinct content digest")
    // batch equivalence: same distinct content set as a batch dedup
    val batchKeys = Seq(r1, r2, r1, r1, r3).toDF()
      .select(concat_ws("|", col("timeseries_id"), col("timestamp").cast("long"),
        col("value").cast("string")).as("k"))
      .distinct().collect().map(_.getString(0)).toSet
    val streamKeys = out
      .select(concat_ws("|", col("timeseries_id"), col("timestamp").cast("long"),
        col("value").cast("string")).as("k"))
      .collect().map(_.getString(0)).toSet
    assert(streamKeys === batchKeys)
  }

  test("intervalJoin stream-stream == batch join on same rows; outside-window rows unmatched") {
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[Tele]
    val rMem = MemoryStream[Tele]
    val q = Streams.intervalJoin(lMem.toDF(), rMem.toDF())
      .writeStream.format("memory").queryName("ij_stream")
      .outputMode("append").start()
    val lRows = Seq(
      Tele("cmd", ts("2024-08-28 12:00:00"), 1.0, None, "id-a"),
      Tele("cmd", ts("2024-08-28 12:20:00"), 2.0, None, "id-a"))
    val rRows = Seq(
      Tele("rsp", ts("2024-08-28 12:05:00"), 10.0, None, "id-a"), // matches 12:00
      Tele("rsp", ts("2024-08-28 12:15:00"), 20.0, None, "id-a"), // matches nothing (>10m after 12:00, before 12:20)
      Tele("rsp", ts("2024-08-28 12:25:00"), 30.0, None, "id-a"), // matches 12:20
      Tele("rsp", ts("2024-08-28 12:05:00"), 40.0, None, "id-b")) // wrong series
    lMem.addData(lRows)
    rMem.addData(rRows)
    q.processAllAvailable()
    // advance both watermarks so buffered state can flush deterministically
    lMem.addData(Seq(Tele("cmd", ts("2024-08-28 14:00:00"), 0.0, None, "id-z")))
    rMem.addData(Seq(Tele("rsp", ts("2024-08-28 14:00:00"), 0.0, None, "id-z")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ij_stream")
      .select("timeseries_id", "l_value", "r_value")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    val want = Streams.intervalJoin(
        (lRows :+ Tele("cmd", ts("2024-08-28 14:00:00"), 0.0, None, "id-z")).toDF(),
        (rRows :+ Tele("rsp", ts("2024-08-28 14:00:00"), 0.0, None, "id-z")).toDF())
      .select("timeseries_id", "l_value", "r_value")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(got === want)
    assert(got === Set(("id-a", 1.0, 10.0), ("id-a", 2.0, 30.0), ("id-z", 0.0, 0.0)))
  }

  test("intervalJoin left_outer: unmatched left rows emit with null right side only after the watermark closes their window") {
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[Tele]
    val rMem = MemoryStream[Tele]
    val q = Streams.intervalJoin(lMem.toDF(), rMem.toDF(), joinType = "left_outer")
      .writeStream.format("memory").queryName("loj_stream")
      .outputMode("append").start()
    val matched = Tele("cmd", ts("2024-08-28 12:00:00"), 1.0, None, "id-a")
    val orphan = Tele("cmd", ts("2024-08-28 12:00:00"), 2.0, None, "id-b")
    lMem.addData(Seq(matched, orphan))
    rMem.addData(Seq(Tele("rsp", ts("2024-08-28 12:05:00"), 10.0, None, "id-a")))
    q.processAllAvailable()
    // watermark hasn't passed orphan's window yet: no null-padded row
    assert(spark.table("loj_stream").filter(col("r_value").isNull).count() === 0)
    // advance both watermarks far past 12:10 -> orphan's window closes
    lMem.addData(Seq(Tele("cmd", ts("2024-08-28 14:00:00"), 0.0, None, "id-z")))
    rMem.addData(Seq(Tele("rsp", ts("2024-08-28 14:00:00"), 0.0, None, "id-z")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("loj_stream")
      .select("timeseries_id", "l_value", "r_value")
      .collect().map(r => (r.getString(0), r.getDouble(1), Option(r.get(2)))).toSet
    assert(out.contains(("id-a", 1.0, Some(10.0))), "matched pair")
    assert(out.contains(("id-b", 2.0, None)), "orphan emitted null-padded after watermark")
  }

  test("faultFlags is stateless and batch-identical") {
    // stateless transform: apply to batch frame both ways
    val flagged = Streams.faultFlags(rows.toDF(), 0.95)
    val expect = rows.map(t => if (t.value > 0.95) Some(1L) else None)
    val got = flagged.collect().map(r => Option(r.getAs[java.lang.Long]("fc1_flag")).map(_.toLong))
    assert(got.toSeq === expect)
  }

  test("enrich: stream-static broadcast join attaches catalog attrs, keeps uncataloged rows") {
    implicit val sqlCtx = spark.sqlContext
    val catalog = Seq(("id-a", "AHU-1", "Briq:Supply_Fan")).toDF(
      "timeseries_id", "equipment", "brick_class")
    val mem = MemoryStream[Tele]
    val q = Streams.enrich(mem.toDF(), catalog)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    mem.addData(rows.take(4))
    q.processAllAvailable(); q.stop()
    val out = spark.table("enriched")
    assert(out.count() === 4)
    assert(out.filter(col("timeseries_id") === "id-a")
      .collect().forall(_.getAs[String]("equipment") == "AHU-1"))
    // left join: the uncataloged id-b row survives with null attrs
    val idb = out.filter(col("timeseries_id") === "id-b").collect()
    assert(idb.length === 1 && idb.head.getAs[String]("equipment") == null)
  }

  test("rates: counter reset across a micro-batch boundary; final snapshot == batch kernel") {
    import graft.streaming.Telemetry
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Telemetry]
    val q = Streams.rates(mem.toDS())
      .writeStream.format("memory").queryName("rates_stream")
      .outputMode("append").start()
    def t(s: String, v: Double, id: String = "ctr-a") =
      Telemetry("Counter", ts(s), v, None, id)
    // micro-batch 1: monotone counter (deltas 1500, 1500 milli-units)
    mem.addData(Seq(
      t("2024-08-28 12:00:00", 1.000),
      t("2024-08-28 12:01:00", 2.500),
      t("2024-08-28 12:02:00", 4.000)))
    q.processAllAvailable()
    // micro-batch 2: the counter RESET (4.000 -> 0.500) spans the batch
    // boundary — detectable only via carried state — plus one more
    // increment and one out-of-order row older than the carried last ts
    mem.addData(Seq(
      t("2024-08-28 12:03:00", 0.500),
      t("2024-08-28 12:04:00", 1.500),
      t("2024-08-28 12:01:30", 9.999))) // across-batch late: dropped+counted
    q.processAllAvailable()
    q.stop()
    // latest snapshot = the one with the max duration
    val last = spark.table("rates_stream")
      .orderBy(col("dur_us").desc).head()
    assert(last.getAs[Long]("increase_m") === 1500L + 1500L + 500L + 1000L)
    assert(last.getAs[Long]("n_resets") === 1L)
    assert(last.getAs[Long]("dur_us") === 240L * 1000000L)
    assert(last.getAs[Long]("n_late_dropped") === 1L)
    // batch kernel on the same (non-dropped) rows: identical fold
    val folded = Seq(1.000, 2.500, 4.000, 0.500, 1.500)
      .map(v => math.floor(v * 1000 + 0.5).toLong)
      .sliding(2).map { case Seq(a, b) => if (b - a < 0) b else b - a }.sum
    assert(last.getAs[Long]("increase_m") === folded)
    assert(last.getAs[Double]("rate_per_s") === (folded / 1000.0) / 240.0)
  }

  test("ewma: fold spans a micro-batch boundary; final snapshot == batch kernel") {
    import graft.streaming.Telemetry
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Telemetry]
    val q = Streams.ewma(mem.toDS())
      .writeStream.format("memory").queryName("ewma_stream")
      .outputMode("append").start()
    def t(s: String, v: Double, id: String = "ewma-a") =
      Telemetry("Sensor", ts(s), v, None, id)
    // micro-batch 1: three in-order samples
    mem.addData(Seq(
      t("2024-08-28 12:00:00", 1.0),
      t("2024-08-28 12:01:00", 2.0),
      t("2024-08-28 12:02:00", 4.0)))
    q.processAllAvailable()
    // micro-batch 2: the fold CONTINUES from carried state (e after batch 1
    // must seed batch 2), plus one across-batch late row: dropped + counted
    // because an order-sensitive recurrence cannot retro-fold
    mem.addData(Seq(
      t("2024-08-28 12:03:00", 8.0),
      t("2024-08-28 12:04:00", 0.5),
      t("2024-08-28 12:01:30", 99.9))) // late vs carried lastTs
    q.processAllAvailable()
    q.stop()
    val last = spark.table("ewma_stream").orderBy(col("n").desc).head()
    // driver-side twin of the batch q_ts_ewma kernel on the kept rows
    val folded = Seq(2.0, 4.0, 8.0, 0.5)
      .foldLeft(1.0)((e, v) => 0.25 * v + 0.75 * e)
    assert(last.getAs[Long]("n") === 5L)
    assert(last.getAs[Double]("ewma") === math.floor(folded * 1e6 + 0.5) / 1e6)
    assert(last.getAs[Long]("n_late_dropped") === 1L)
    // the batch-1 snapshot was itself the 3-row prefix fold
    val first = spark.table("ewma_stream").orderBy(col("n").asc).head()
    val prefix = Seq(2.0, 4.0).foldLeft(1.0)((e, v) => 0.25 * v + 0.75 * e)
    assert(first.getAs[Long]("n") === 3L)
    assert(first.getAs[Double]("ewma") === math.floor(prefix * 1e6 + 0.5) / 1e6)
  }

  test("rates: equal-timestamp rows fold in deterministic (ts, value) order") {
    import graft.streaming.Telemetry
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Telemetry]
    val q = Streams.rates(mem.toDS())
      .writeStream.format("memory").queryName("rates_ties")
      .outputMode("append").start()
    def t(v: Double) =
      Telemetry("Counter", ts("2024-08-28 12:01:00"), v, None, "tie-a")
    // two rows share one timestamp: the fold must order them by value
    // (5.0 before 7.0), NOT by nondeterministic iterator arrival — so the
    // deltas are +4000, +2000 and never a spurious reset
    mem.addData(Seq(
      Telemetry("Counter", ts("2024-08-28 12:00:00"), 1.0, None, "tie-a"),
      t(7.0), t(5.0)))
    q.processAllAvailable()
    q.stop()
    val r = spark.table("rates_ties").orderBy(col("dur_us").desc).head()
    assert(r.getAs[Long]("n_resets") === 0L,
      "equal-ts rows folded out of order: a spurious counter reset appeared")
    assert(r.getAs[Long]("increase_m") === 6000L)
  }

  test("faultRuns: run-length state carries across micro-batches; reset on cool reading") {
    import graft.streaming.{FaultRunAlert, Telemetry}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Telemetry]
    val alerts = Streams.faultRuns(mem.toDS(), threshold = 0.95)
    // default trigger + processAllAvailable: one continuous query, so keyed
    // state genuinely persists between the two micro-batches below
    val q = alerts.writeStream.format("memory").queryName("fault_runs")
      .outputMode("append").start()
    def t(s: String, v: Double, id: String = "id-a") =
      Telemetry("Sa_FanSpeed", ts(s), v, None, id)
    // micro-batch 1: two consecutive faults (run = 2, below minRun -> silent)
    mem.addData(Seq(
      t("2024-08-28 12:00:00", 0.97),
      t("2024-08-28 12:01:00", 0.98),
      t("2024-08-28 12:00:30", 0.10, id = "id-b")))
    q.processAllAvailable()
    assert(spark.table("fault_runs").count() === 0)
    // micro-batch 2: third consecutive fault crosses minRun using state from
    // batch 1 -> exactly one alert; cool reading resets; 2 more faults stay
    // below minRun again
    mem.addData(Seq(
      t("2024-08-28 12:02:00", 0.99),
      t("2024-08-28 12:03:00", 0.10),
      t("2024-08-28 12:04:00", 0.97),
      t("2024-08-28 12:05:00", 0.98)))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("fault_runs").collect()
      .map(r => (r.getAs[String]("timeseries_id"), r.getAs[Int]("run_length")))
    assert(out.toSeq === Seq(("id-a", 3)), s"got ${out.toSeq}")
  }

  test("faultRuns: a silent series' state is EVICTED once the watermark passes its TTL") {
    import graft.streaming.Telemetry
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Telemetry]
    // TTL 60 min: id-old's state must be gone once the watermark passes
    // last-event(12:01) + 60 min = 13:01
    val alerts = Streams.faultRuns(mem.toDS(), threshold = 0.95)
    val q = alerts.writeStream.format("memory").queryName("fault_runs_ttl")
      .outputMode("append").start()
    def t(s: String, v: Double, id: String) = Telemetry("S", ts(s), v, None, id)
    // b1: id-old reaches run=2 (one fault short of an alert)
    mem.addData(Seq(
      t("2024-08-28 12:00:00", 0.97, "id-old"),
      t("2024-08-28 12:01:00", 0.98, "id-old")))
    q.processAllAvailable()
    // b2: only id-live traffic; watermark advances to 13:20 > 13:01
    mem.addData(Seq(t("2024-08-28 13:30:00", 0.10, "id-live")))
    q.processAllAvailable()
    // b3: another id-live batch lets the id-old timeout actually fire
    mem.addData(Seq(t("2024-08-28 13:31:00", 0.10, "id-live")))
    q.processAllAvailable()
    // b4: id-old returns with ONE fault. If the run=2 state had survived the
    // silence this would be run=3 -> alert; eviction means it restarts at 1.
    mem.addData(Seq(t("2024-08-28 14:00:00", 0.99, "id-old")))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("fault_runs_ttl").count() === 0,
      "state for the silent series must be dropped, not resumed")
  }

  test("faultRuns: an older row in a later batch does not pull a live run's eviction earlier") {
    import graft.streaming.Telemetry
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Telemetry]
    val q = Streams.faultRuns(mem.toDS(), threshold = 0.95)
      .writeStream.format("memory").queryName("fault_runs_anchor")
      .outputMode("append").start()
    def t(s: String, v: Double, id: String) = Telemetry("S", ts(s), v, None, id)
    // b1: id-a's newest fault at 12:20; the watermark moves to 12:10
    mem.addData(Seq(t("2024-08-28 12:20:00", 0.97, "id-a")))
    q.processAllAvailable()
    // b2: only an OLDER id-a fault, still inside the watermark: run = 2
    mem.addData(Seq(t("2024-08-28 12:15:00", 0.98, "id-a")))
    q.processAllAvailable()
    // b3/b4: id-live moves the watermark to 13:17, then 13:18: past the
    // older row + 60 min TTL (13:15), short of the newest row + TTL (13:20)
    mem.addData(Seq(t("2024-08-28 13:27:00", 0.10, "id-live")))
    q.processAllAvailable()
    mem.addData(Seq(t("2024-08-28 13:28:00", 0.10, "id-live")))
    q.processAllAvailable()
    // b5: id-a's third fault continues the live run
    mem.addData(Seq(t("2024-08-28 13:29:00", 0.99, "id-a")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("fault_runs_anchor").collect()
      .map(r => (r.getAs[String]("timeseries_id"), r.getAs[Int]("run_length")))
    assert(out.toSeq === Seq(("id-a", 3)),
      s"the run was evicted before the watermark passed its newest row + TTL: ${out.toSeq}")
  }

  test("silentSeries: exactly one alert for the series that goes quiet; live series never alerts") {
    import graft.streaming.Telemetry
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Telemetry]
    val q = Streams
      .silentSeries(mem.toDS())
      .writeStream.format("memory").queryName("silent_stream")
      .outputMode("append").start()
    def t(s: String, id: String) = Telemetry("S", ts(s), 1.0, None, id)
    // b1: both series report at 12:00
    mem.addData(Seq(t("2024-08-28 12:00:00", "id-quiet"), t("2024-08-28 12:00:00", "id-live")))
    q.processAllAvailable()
    // b2: only id-live; watermark -> 12:50 > id-quiet's 12:00 + 30m horizon
    mem.addData(Seq(t("2024-08-28 13:00:00", "id-live")))
    q.processAllAvailable()
    // b3: another live batch lets the elapsed timeout actually fire
    mem.addData(Seq(t("2024-08-28 13:01:00", "id-live")))
    q.processAllAvailable()
    val first = spark.table("silent_stream").collect()
    assert(first.length === 1, s"expected exactly one alert, got ${first.toSeq}")
    assert(first.head.getAs[String]("timeseries_id") === "id-quiet")
    assert(first.head.getAs[java.sql.Timestamp]("last_seen") === ts("2024-08-28 12:00:00"))
    // watermark-measured silence is a LOWER bound >= the horizon
    assert(first.head.getAs[Long]("silent_for_ms") >= 30L * 60000L)
    // b4: id-quiet RETURNS -> state re-arms fresh from the new last-seen
    mem.addData(Seq(t("2024-08-28 13:30:00", "id-quiet")))
    q.processAllAvailable()
    // b5/b6: live traffic advances the watermark past 13:30 + 30m -> a
    // SECOND alert for the same series, with the new last_seen
    mem.addData(Seq(t("2024-08-28 15:00:00", "id-live")))
    q.processAllAvailable()
    mem.addData(Seq(t("2024-08-28 15:01:00", "id-live")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("silent_stream")
      .collect()
      .map(r => (r.getAs[String]("timeseries_id"), r.getAs[java.sql.Timestamp]("last_seen")))
      .sortBy(_._2.getTime)
    assert(out.toSeq === Seq(
      ("id-quiet", ts("2024-08-28 12:00:00")),
      ("id-quiet", ts("2024-08-28 13:30:00"))),
      "a returning series must re-arm and alert again; a live series must never alert")
  }

  test("countMv: stream MV counts == direct batch counts; drift reader matches hand-computed integers; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val mv = java.nio.file.Files.createTempDirectory("graft_cntmv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cntmv_ckpt").toString
    val mem = MemoryStream[Tele]
    val q = Streams
      .countMvSink(mem.toDF(), mv, ckpt, Trigger.ProcessingTime("0 seconds"))
      .start()
    def t(s: String, id: String) = Tele("S", ts(s), 1.0, None, id)
    // 4 days: id-a shrinks 3 -> 1 across the midpoint, id-b grows 1 -> 3
    val b0 = Seq(
      t("2024-08-25 10:00:00", "id-a"), t("2024-08-25 11:00:00", "id-a"),
      t("2024-08-26 10:00:00", "id-a"), t("2024-08-25 10:00:00", "id-b"))
    val b1 = Seq(
      t("2024-08-27 10:00:00", "id-a"),
      t("2024-08-27 10:00:00", "id-b"), t("2024-08-28 10:00:00", "id-b"),
      t("2024-08-28 11:00:00", "id-b"))
    mem.addData(b0); q.processAllAvailable()
    mem.addData(b1); q.processAllAvailable()
    q.stop()
    // MV partials re-merge to the direct per-(series, day) batch counts
    val merged = spark.read.parquet(mv)
      .groupBy(col("timeseries_id"), col("day")).agg(sum("n").as("n"))
      .collect()
      .map(r => (r.getAs[String]("timeseries_id"), r.getAs[java.sql.Date]("day").toString) -> r.getAs[Long]("n"))
      .toMap
    val direct = (b0 ++ b1).groupBy(r => (r.timeseries_id, r.timestamp.toString.take(10)))
      .map { case (k, rs) => k -> rs.length.toLong }
    assert(merged === direct)
    // drift: days 25..28, mid = (19960+19963+1) div 2 -> old = {25,26}, new = {27,28}
    // id-a: n_old=3, n_new=1; id-b: n_old=1, n_new=3; t_old=t_new=4
    val drift = Streams.mvMixDrift(spark, mv).collect()
      .map(r => r.getAs[String]("timeseries_id") ->
        ((r.getAs[Long]("n_old"), r.getAs[Long]("n_new"), r.getAs[Long]("ppm_old"),
          r.getAs[Long]("ppm_new"), r.getAs[Long]("drift_num"), r.getAs[Long]("drift_den"))))
      .toMap
    assert(drift === Map(
      "id-a" -> ((3L, 1L, 750000L, 250000L, 8L, 32L)),
      "id-b" -> ((1L, 3L, 250000L, 750000L, 8L, 32L))))
    // replay batch 1: same rows, same batch_id -> byte-equal effect
    import spark.implicits._
    Streams.countMvBatch(b1.toDF(), mv, batchId = 1L)
    val drift2 = Streams.mvMixDrift(spark, mv).collect()
      .map(r => r.getAs[String]("timeseries_id") -> r.getAs[Long]("drift_num")).toMap
    assert(drift2 === Map("id-a" -> 8L, "id-b" -> 8L))
  }

  test("cmMv: estimates off the streamed CM MV equal exact counts; range prunes; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val mv = java.nio.file.Files.createTempDirectory("graft_cmmv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cmmv_ckpt").toString
    val mem = MemoryStream[Tele]
    val q = Streams
      .cmMvSink(mem.toDF(), mv, ckpt, Trigger.ProcessingTime("0 seconds"))
      .start()
    def t(s: String, id: String) = Tele("S", ts(s), 1.0, None, id)
    val b0 = Seq(
      t("2024-08-25 10:00:00", "id-a"), t("2024-08-25 11:00:00", "id-a"),
      t("2024-08-25 10:00:00", "id-b"))
    val b1 = Seq(
      t("2024-08-26 10:00:00", "id-a"),
      t("2024-08-26 10:00:00", "id-c"), t("2024-08-26 11:00:00", "id-c"),
      t("2024-08-26 12:00:00", "id-c"))
    mem.addData(b0); q.processAllAvailable()
    mem.addData(b1); q.processAllAvailable()
    q.stop()
    def ests(start: String, end: String): Map[String, Long] =
      Streams.cmEstimate(
        spark, mv, Seq("id-a", "id-b", "id-c", "id-ghost"), start, end)
        .collect()
        .map(r => r.getAs[String]("timeseries_id") -> r.getAs[Long]("est"))
        .toMap
    // 3 ids in 4x512 cells: no id collides with another in all 4 depths,
    // so every estimate is exact (one-sided guarantee met with equality);
    // the never-seen key reads an untouched cell -> 0
    assert(ests("2024-08-25", "2024-08-26") ===
      Map("id-a" -> 3L, "id-b" -> 1L, "id-c" -> 3L, "id-ghost" -> 0L))
    // day-range pruning: only day-25 partials contribute
    assert(ests("2024-08-25", "2024-08-25") ===
      Map("id-a" -> 2L, "id-b" -> 1L, "id-c" -> 0L, "id-ghost" -> 0L))
    // replay batch 1: same rows, same batch_id directory -> identical cells
    import spark.implicits._
    Streams.cmMvBatch(b1.toDF(), mv, batchId = 1L)
    assert(ests("2024-08-25", "2024-08-26") ===
      Map("id-a" -> 3L, "id-b" -> 1L, "id-c" -> 3L, "id-ghost" -> 0L))
  }

  test("hhMv: merged stream partials equal exact counts in MG's exact regime; replay preserves the summary") {
    implicit val sqlCtx = spark.sqlContext
    val mv = java.nio.file.Files.createTempDirectory("graft_hhmv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hhmv_ckpt").toString
    val mem = MemoryStream[Tele]
    val q = Streams
      .hhMvSink(mem.toDF(), mv, ckpt, Trigger.ProcessingTime("0 seconds"))
      .start()
    def t(s: String, id: String) = Tele("S", ts(s), 1.0, None, id)
    // two days, three series, split across two batches; k=8 >= 3 distinct
    // -> MG never decrements, so every partial is the exact count map and
    // the merged MV must equal exact counts regardless of order
    val b0 = Seq(
      t("2024-08-25 10:00:00", "id-hot"), t("2024-08-25 11:00:00", "id-hot"),
      t("2024-08-25 12:00:00", "id-warm"), t("2024-08-26 10:00:00", "id-hot"))
    val b1 = Seq(
      t("2024-08-26 11:00:00", "id-hot"), t("2024-08-26 12:00:00", "id-warm"),
      t("2024-08-26 13:00:00", "id-cold"))
    mem.addData(b0); q.processAllAvailable()
    mem.addData(b1); q.processAllAvailable()
    q.stop()
    def readHh() = Streams
      .mvHeavyHitters(spark, mv, "2024-08-25", "2024-08-26")
      .collect()
      .map(r => r.getAs[String]("timeseries_id") ->
        ((r.getAs[Long]("est"), r.getAs[Long]("n_total"))))
      .toMap
    val got = readHh()
    assert(got === Map(
      "id-hot" -> ((4L, 7L)), "id-warm" -> ((2L, 7L)), "id-cold" -> ((1L, 7L))))
    // day-range pruning: day 25 alone sees only its own rows
    val d25 = Streams.mvHeavyHitters(spark, mv, "2024-08-25", "2024-08-25")
      .collect().map(r => r.getAs[String]("timeseries_id") -> r.getAs[Long]("est")).toMap
    assert(d25 === Map("id-hot" -> 2L, "id-warm" -> 1L))
    // replay batch 1 (at-least-once): the overwritten partial summarizes
    // the same rows, so the merged read is unchanged
    import spark.implicits._
    Streams.hhMvBatch(b1.toDF(), mv, batchId = 1L)
    assert(readHh() === got)
  }

  test("minhashDedup: cross/intra-batch near-dups drop, survivors index, replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft_mhdedup").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mhdedup_ckpt").toString
    // 40-word base text; near-dups differ in ONE trailing word -> shingle
    // jaccard 37/39 ~ 0.95 -> expected signature agreement ~30/32, far
    // above the minAgree=26 cut (and deterministic: fixed hash family)
    val base = (0 until 40).map(i => s"w$i").mkString(" ")
    def mut(last: String) = (0 until 39).map(i => s"w$i").mkString(" ") + " " + last
    val novel = (0 until 40).map(i => s"u$i").mkString(" ")
    val mem = MemoryStream[Doc]
    val q = Streams
      .minhashDedupSink(mem.toDF(), store, ckpt, Trigger.ProcessingTime("0 seconds"))
      .start()
    // b0: doc 1 (base) and doc 2 (near-dup of 1) — INTRA-batch: higher id drops
    val b0 = Seq(Doc(1L, base), Doc(2L, mut("x2")))
    mem.addData(b0)
    q.processAllAvailable()
    // b1: doc 3 (near-dup of 1 — CROSS-batch vs the stored index),
    //     doc 4 (novel — survives), doc 5 (too short to shingle — kept)
    val b1 = Seq(Doc(3L, mut("x3")), Doc(4L, novel), Doc(5L, "tiny doc"))
    mem.addData(b1)
    q.processAllAvailable()
    q.stop()
    val decisions = Streams.dedupDecisions(spark, store).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("dup_of"), r.getAs[Long]("agree"), r.getAs[Long]("batch_id"))))
      .toMap
    assert(decisions.keySet === Set(2L, 3L), s"wrong drop set: $decisions")
    assert(decisions(2L)._1 === 1L && decisions(2L)._3 === 0L)
    assert(decisions(3L)._1 === 1L && decisions(3L)._3 === 1L)
    decisions.values.foreach { case (_, agree, _) =>
      assert(agree >= 26L && agree <= 32L)
    }
    val survivors = Streams.dedupSurvivors(spark, store).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("batch_id")).toMap
    assert(survivors === Map(1L -> 0L, 4L -> 1L, 5L -> 1L))
    // replay batch 1 directly (at-least-once redelivery): candidate reads
    // exclude batch_id >= 1, outputs overwrite their own dirs -> the store
    // must come back IDENTICAL, not re-matched against its own attempt
    import spark.implicits._
    Streams.minhashDedupBatch(b1.toDF(), store, batchId = 1L)
    val decisions2 = Streams.dedupDecisions(spark, store).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of"),
        r.getAs[Long]("agree"), r.getAs[Long]("batch_id"))).toSet
    val survivors2 = Streams.dedupSurvivors(spark, store).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("batch_id")).toMap
    assert(decisions2 === decisions.map { case (k, (d, a, b)) => (k, d, a, b) }.toSet)
    assert(survivors2 === survivors)
  }

  test("minhashDedup: an all-short batch indexes nothing matchable but keeps every doc") {
    // every doc under 3 tokens: no signatures exist, so candidate
    // generation sees empty frames end to end — the batch must still
    // record all docs as survivors (null sigs) and no decisions
    val store = java.nio.file.Files.createTempDirectory("graft_mhshort").toString
    import spark.implicits._
    val b = Seq(Doc(1L, "one two"), Doc(2L, "x"), Doc(3L, ""))
    Streams.minhashDedupBatch(b.toDF(), store, batchId = 0L)
    val survivors = Streams.dedupSurvivors(spark, store).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(survivors === Set(1L, 2L, 3L))
    assert(Streams.dedupDecisions(spark, store).collect().isEmpty)
  }

  test("upsertSink: update overrides append, replay is a no-op, partition layout survives") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_upsert_ckpt").toString
    val mem = MemoryStream[Tele]
    val q = Streams
      .upsertSink(mem.toDF(), out, ckpt, Trigger.ProcessingTime("0 seconds"))
      .start()
    def t(s: String, v: Double, id: String) = Tele("S", ts(s), v, None, id)
    // b1: initial appends across TWO date partitions
    val b1 = Seq(
      t("2024-08-28 12:00:00", 1.0, "id-a"),
      t("2024-08-28 12:01:00", 2.0, "id-a"),
      t("2024-08-29 09:00:00", 5.0, "id-b"))
    mem.addData(b1)
    q.processAllAvailable()
    assert(spark.read.parquet(out).count() === 3)
    // b2: a late CORRECTION for (id-a, 12:01) — delivered twice in one
    // batch with conflicting values; the deterministic tie-break must keep
    // the greater (9.0), and the stored 2.0 must be REPLACED, not duplicated
    val b2 = Seq(
      t("2024-08-28 12:01:00", 9.0, "id-a"),
      t("2024-08-28 12:01:00", 7.0, "id-a"))
    mem.addData(b2)
    q.processAllAvailable()
    q.stop()
    def snapshot() = spark.read.parquet(out)
      .select("timeseries_id", "timestamp", "value")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .toSet
    val afterUpdate = snapshot()
    assert(afterUpdate === Set(
      ("id-a", ts("2024-08-28 12:00:00"), 1.0),
      ("id-a", ts("2024-08-28 12:01:00"), 9.0), // update overrode the append
      ("id-b", ts("2024-08-29 09:00:00"), 5.0)))
    // replay idempotence: at-least-once foreachBatch re-delivers batch 2 —
    // re-merging it must leave the layout byte-identical in content
    Streams.upsertBatch(b2.toDF(), out)
    assert(snapshot() === afterUpdate, "replaying a batch must be a no-op")
    // partition-layout survival: still day-partitioned dirs, still
    // compactable via the same swap discipline
    val dirs = new java.io.File(out).list().filter(_.startsWith("event_date=")).sorted
    assert(dirs.toSeq === Seq("event_date=2024-08-28", "event_date=2024-08-29"))
    Layout.compactPartition(spark, out, "2024-08-28")
    assert(snapshot() === afterUpdate, "compaction after upserts must preserve contents")
  }

  test("upsertDeltaSink: O(batch) delta landing, later-batch-wins fold == direct tier, crash-mid-delete refold is safe") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_updelta").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_updelta_ckpt").toString
    val mem = MemoryStream[Tele]
    // compactEvery=2: batch 0 pending, batch 1 folds both, batch 2 pending
    val q = Streams
      .upsertDeltaSink(mem.toDF(), out, ckpt,
        Trigger.ProcessingTime("0 seconds"), compactEvery = 2)
      .start()
    def t(s: String, v: Double, id: String) = Tele("S", ts(s), v, None, id)
    val b1 = Seq(
      t("2024-08-28 12:00:00", 1.0, "id-a"),
      t("2024-08-28 12:01:00", 2.0, "id-a"),
      t("2024-08-29 09:00:00", 5.0, "id-b"))
    val b2 = Seq( // conflicting duplicate delivery: greatest tuple (9.0) wins
      t("2024-08-28 12:01:00", 9.0, "id-a"),
      t("2024-08-28 12:01:00", 7.0, "id-a"))
    val b3 = Seq( // later batch beats an earlier one even with a SMALLER value
      t("2024-08-28 12:01:00", 3.0, "id-a"),
      t("2024-08-30 10:00:00", 4.0, "id-c"))
    Seq(b1, b2, b3).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("timeseries_id", "timestamp", "value")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .toSet
    val expected = Set(
      ("id-a", ts("2024-08-28 12:00:00"), 1.0),
      ("id-a", ts("2024-08-28 12:01:00"), 3.0),
      ("id-b", ts("2024-08-29 09:00:00"), 5.0),
      ("id-c", ts("2024-08-30 10:00:00"), 4.0))
    // merge-on-read resolves the pending b3 delta; the compacted table
    // (what a plain reader sees) still shows the pre-b3 fold
    assert(snap(Streams.upsertRead(spark, out)) === expected)
    assert(snap(spark.read.parquet(out)) === Set(
      ("id-a", ts("2024-08-28 12:00:00"), 1.0),
      ("id-a", ts("2024-08-28 12:01:00"), 9.0),
      ("id-b", ts("2024-08-29 09:00:00"), 5.0)))
    // the _delta dir is hidden from plain readers by the underscore prefix
    assert(new java.io.File(s"$out/_delta").list().count(_.startsWith("batch=")) === 1)
    // replay of the pending batch overwrites its own dir whole: no-op
    Streams.upsertDeltaBatch(b3.toDF(), out, batchId = 2, compactEvery = 99)
    assert(snap(Streams.upsertRead(spark, out)) === expected,
      "replaying a pending delta batch must be a no-op")
    // crash-mid-compaction window: winners already folded but delta dirs
    // not yet deleted — the re-fold (same winner set) is a key-replace
    // no-op, so compacting twice is safe
    Streams.compactUpsertDeltas(spark, out)
    assert(snap(spark.read.parquet(out)) === expected)
    Streams.upsertDeltaBatch(b3.toDF(), out, batchId = 2, compactEvery = 99)
    Streams.compactUpsertDeltas(spark, out) // the re-fold after a "crash"
    assert(snap(spark.read.parquet(out)) === expected,
      "re-folding an already-folded delta must be a no-op")
    assert(new java.io.File(s"$out/_delta").list() === null ||
      new java.io.File(s"$out/_delta").list().isEmpty)
    // the delta tier's final state is byte-identical to the DIRECT tier's
    // on the same batches (same dedup, same later-batch-wins order)
    val direct = java.nio.file.Files.createTempDirectory("graft_updelta_direct").toString
    Seq(b1, b2, b3).foreach(b => Streams.upsertBatch(b.toDF(), direct))
    assert(snap(spark.read.parquet(direct)) === expected)
    // day-partition layout survives for both tiers
    val dirs = new java.io.File(out).list().filter(_.startsWith("event_date=")).sorted
    assert(dirs.toSeq === Seq(
      "event_date=2024-08-28", "event_date=2024-08-29", "event_date=2024-08-30"))
  }

  test("upsertRead: both anti-join plans — date-pruned split and the all-touched single-scan fallback — resolve identically") {
    // The r17 date-pruned read has two branches on the window plan
    // (Streams.upsertRead): a touched/untouched partition split when at
    // least half the store's partitions can skip the exchange, and the
    // single-scan fallback when the pending set touches most dates. This
    // one pins both, with the process's resolved set set aside (on the
    // set's path the view is always one scan), and that both resolve like
    // eager merges.
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_upread").toString
    def t(s: String, v: Double, id: String) = Tele("S", ts(s), v, None, id)
    val base = Seq(
      t("2024-08-28 10:00:00", 1.0, "id-a"),
      t("2024-08-29 10:00:00", 2.0, "id-a"),
      t("2024-08-30 10:00:00", 3.0, "id-b"),
      t("2024-08-31 10:00:00", 4.0, "id-b"))
    Streams.upsertDeltaBatch(base.toDF(), out, batchId = 0, compactEvery = 99)
    Streams.compactUpsertDeltas(spark, out)
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("timeseries_id", "timestamp", "value")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .toSet
    // pending delta touching EVERY store date -> untouched = 0 -> fallback
    val all = Seq(
      t("2024-08-28 10:00:00", 10.0, "id-a"),
      t("2024-08-29 10:00:00", 20.0, "id-a"),
      t("2024-08-30 10:00:00", 30.0, "id-b"),
      t("2024-08-31 10:00:00", 40.0, "id-b"))
    Streams.upsertDeltaBatch(all.toDF(), out, batchId = 1, compactEvery = 99)
    assert(liveScans(distributedRead(out)) === 1, "premise: the single-scan fallback plans")
    assert(snap(distributedRead(out)) === Set(
      ("id-a", ts("2024-08-28 10:00:00"), 10.0),
      ("id-a", ts("2024-08-29 10:00:00"), 20.0),
      ("id-b", ts("2024-08-30 10:00:00"), 30.0),
      ("id-b", ts("2024-08-31 10:00:00"), 40.0)),
      "all-touched fallback must resolve every pending replacement")
    Streams.compactUpsertDeltas(spark, out)
    // pending delta touching ONE of four dates -> split path: three
    // untouched partitions pass through, the touched one anti-joins
    val one = Seq(t("2024-08-30 10:00:00", 99.0, "id-b"))
    Streams.upsertDeltaBatch(one.toDF(), out, batchId = 2, compactEvery = 99)
    assert(liveScans(distributedRead(out)) === 2, "premise: the date split plans")
    assert(snap(distributedRead(out)) === Set(
      ("id-a", ts("2024-08-28 10:00:00"), 10.0),
      ("id-a", ts("2024-08-29 10:00:00"), 20.0),
      ("id-b", ts("2024-08-30 10:00:00"), 99.0),
      ("id-b", ts("2024-08-31 10:00:00"), 40.0)),
      "date-pruned split must replace only the touched partition's row")
  }

  test("upsertRead: null-timestamp rows survive BOTH anti-join plans and both tiers (ADVICE r17)") {
    // A null timestamp yields a null event_date. Contract: (1) compaction
    // and the direct tier land such rows in the Hive default partition
    // instead of NPE-ing/losing them; (2) upsertRead's date-pruned split
    // routes null-date store rows to the anti-join branch, where SQL
    // null-join semantics keep them — identical to the single-scan
    // fallback; (3) null keys never REPLACE (null != null in joins), so a
    // pending null-ts row appends beside a stored one — consistent across
    // every read path.
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_upnull").toString
    def t(s: String, v: Double, id: String) =
      Tele("S", if (s == null) null else ts(s), v, None, id)
    val base = Seq(
      t("2024-08-28 10:00:00", 1.0, "id-a"),
      t("2024-08-29 10:00:00", 2.0, "id-a"),
      t("2024-08-30 10:00:00", 3.0, "id-b"),
      t("2024-08-31 10:00:00", 4.0, "id-b"),
      t(null, 5.0, "id-n"))
    Streams.upsertDeltaBatch(base.toDF(), out, batchId = 0, compactEvery = 99)
    Streams.compactUpsertDeltas(spark, out)
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("timeseries_id", "timestamp", "value")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .toSet
    // the compacted store itself must retain the null-ts row (Hive
    // default partition, read back as null)
    assert(snap(spark.read.parquet(out)).contains(("id-n", null, 5.0)),
      "compaction must not lose a null-ts row")
    assert(new java.io.File(out).list().contains("event_date=__HIVE_DEFAULT_PARTITION__"))
    val withBase = base.map(r => (r.timeseries_id, r.timestamp, r.value)).toSet
    // SPLIT path (window plan): pending touches 1 of 4 real dates +
    // carries a null-ts row -> 3 untouched partitions pass through, nulls
    // ride the anti-join
    val pend = Seq(
      t("2024-08-30 10:00:00", 30.0, "id-b"),
      t(null, 50.0, "id-n"))
    Streams.upsertDeltaBatch(pend.toDF(), out, batchId = 1, compactEvery = 99)
    val expectSplit = withBase - (("id-b", ts("2024-08-30 10:00:00"), 3.0)) +
      (("id-b", ts("2024-08-30 10:00:00"), 30.0)) + (("id-n", null, 50.0))
    assert(snap(distributedRead(out)) === expectSplit,
      "split plan must keep the stored null-ts row and append the pending one")
    assert(snap(Streams.upsertRead(spark, out)) === expectSplit,
      "the resolved set's plan must agree with the split on null-ts rows")
    // FALLBACK path: pending touches every real date -> single scan; the
    // resolution of the null-ts rows must be identical to the split's
    val pendAll = Seq(
      t("2024-08-28 10:00:00", 10.0, "id-a"),
      t("2024-08-29 10:00:00", 20.0, "id-a"),
      t("2024-08-31 10:00:00", 40.0, "id-b"))
    Streams.upsertDeltaBatch(pendAll.toDF(), out, batchId = 2, compactEvery = 99)
    val expectAll = Set(
      ("id-a", ts("2024-08-28 10:00:00"), 10.0),
      ("id-a", ts("2024-08-29 10:00:00"), 20.0),
      ("id-b", ts("2024-08-30 10:00:00"), 30.0),
      ("id-b", ts("2024-08-31 10:00:00"), 40.0),
      ("id-n", null: java.sql.Timestamp, 5.0),
      ("id-n", null: java.sql.Timestamp, 50.0))
    assert(snap(distributedRead(out)) === expectAll,
      "single-scan fallback must agree with the split on null-ts rows")
    assert(snap(Streams.upsertRead(spark, out)) === expectAll,
      "the resolved set's plan must agree with the fallback on null-ts rows")
    // fold everything: the compacted store equals the merge-on-read view,
    // and the DIRECT tier lands the same state from the same batches
    Streams.compactUpsertDeltas(spark, out)
    assert(snap(spark.read.parquet(out)) === expectAll)
    val direct = java.nio.file.Files.createTempDirectory("graft_upnull_direct").toString
    Seq(base, pend, pendAll).foreach(b => Streams.upsertBatch(b.toDF(), direct))
    assert(snap(spark.read.parquet(direct)) === expectAll,
      "direct tier must land null-ts rows identically")
  }

  /** Footers of the pending delta files of a delta-tier store. */
  private def pendingFooters(out: String) = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    new java.io.File(s"$out/_delta").list().filter(_.startsWith("batch=")).toSeq
      .flatMap(b => graft.sources.Tables.files(fs, new org.apache.hadoop.fs.Path(s"$out/_delta/$b")))
      .map(graft.sources.Tables.footer(spark, _))
  }

  /** True when `view` merges against its session's resolved pending set
    * (a local relation) rather than the distributed window. */
  private def usesResolved(view: org.apache.spark.sql.DataFrame): Boolean =
    view.queryExecution.logical.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  /** A delta landed the way another process lands one: written in a
    * store of its own, then renamed into `dir`'s `_delta`, so no set of
    * this process ever sees the landing. */
  private def landForeign(batch: org.apache.spark.sql.DataFrame, dir: String, batchId: Long): Unit = {
    val elsewhere = java.nio.file.Files.createTempDirectory("graft_foreign").toString
    Streams.upsertDeltaBatch(batch, elsewhere, batchId, compactEvery = 99)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$elsewhere/_delta/batch=$batchId"),
      java.nio.file.Paths.get(s"$dir/_delta/batch=$batchId"))
  }

  /** `upsertRead` of `dir` on the distributed window plan: the process's
    * resolved set is set aside while the view builds. */
  private def distributedRead(dir: String): org.apache.spark.sql.DataFrame = {
    val set = Streams.Resolved.get(spark, dir)
    Streams.Resolved.drop(spark, dir)
    try Streams.upsertRead(spark, dir) finally set.foreach(Streams.Resolved.put(spark, dir, _))
  }

  /** Scans of the compacted store (not of `_delta`) in `view`'s physical
    * plan: 2 for the date split, 1 for every single-scan plan. */
  private def liveScans(view: org.apache.spark.sql.DataFrame): Int =
    view.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if !f.relation.location.rootPaths.exists(_.getName == "_delta") => f
    }.size

  /** Fold `dir`'s pending deltas on the distributed plan and keep no set
    * for it afterwards, as a store of another process would be. */
  private def foldDistributed(by: org.apache.spark.sql.SparkSession, dir: String): Int = {
    Streams.Resolved.drop(by, dir)
    try Streams.compactUpsertDeltas(by, dir) finally Streams.Resolved.drop(by, dir)
  }

  test("upsertRead builds its DataFrame with zero Spark jobs: deltas only, compacted + pending, compacted only") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_upjobs").toString
    def t(s: String, v: Double, id: String) = Tele("S", ts(s), v, None, id)
    val base = Seq(
      t("2024-08-28 10:00:00", 1.0, "id-a"),
      t("2024-08-29 10:00:00", 2.0, "id-a"),
      t("2024-08-30 10:00:00", 3.0, "id-b"),
      t("2024-08-31 10:00:00", 4.0, "id-b"))
    def build(state: String) = {
      val (view, jobs) = jobsDuring(Streams.upsertRead(spark, out))
      assert(jobs === 0, s"$state: building the view launched $jobs Spark job(s)")
      view
    }
    Streams.upsertDeltaBatch(base.toDF(), out, batchId = 0, compactEvery = 99)
    val deltasOnly = build("deltas only")
    assert(!usesResolved(deltasOnly), "premise: no compaction has seeded a resolved set")
    // the footer-derived schema is the schema inference gave (less the
    // `batch` partition column, which the view drops)
    assert(deltasOnly.schema === spark.read.parquet(s"$out/_delta").drop("batch").schema)
    assert(deltasOnly.count() === 4)
    Streams.compactUpsertDeltas(spark, out)
    val compacted = build("compacted only")
    assert(compacted.schema === spark.read.parquet(out).schema)
    // one touched date of four: the date-split plan
    Streams.upsertDeltaBatch(
      Seq(t("2024-08-30 10:00:00", 30.0, "id-b")).toDF(), out, batchId = 1, compactEvery = 99)
    val merged = build("compacted + pending")
    assert(usesResolved(merged), "premise: this session's landing extended the resolved set")
    assert(merged.schema === compacted.schema)
    assert(merged.filter(col("timeseries_id") === "id-b")
      .select("value").as[Double].collect().sorted.toSeq === Seq(4.0, 30.0))
    // another process lands: the set no longer matches, the window plan runs
    landForeign(Seq(t("2024-08-31 10:00:00", 40.0, "id-b")).toDF(), out, batchId = 2)
    val foreign = build("compacted + pending, landed by another process")
    assert(!usesResolved(foreign), "premise: a foreign landing drops to the distributed plan")
    assert(foreign.schema === compacted.schema)
    assert(foreign.filter(col("timeseries_id") === "id-b")
      .select("value").as[Double].collect().sorted.toSeq === Seq(30.0, 40.0))
  }

  test("upsertRead: footer date ranges — non-adjacent dates, a stats-less delta, an all-null-ts delta — resolve like eager upsertBatch") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_upranges").toString
    val direct = java.nio.file.Files.createTempDirectory("graft_upranges_direct").toString
    def t(s: String, v: Double, id: String) =
      Tele("S", if (s == null) null else ts(s), v, None, id)
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("timeseries_id", "timestamp", "value")
      .collect()
      .map(r => s"${r.getString(0)}|${r.getTimestamp(1)}|${r.getDouble(2)}")
      .sorted
      .toSeq
    var batchId = 0L
    /** land `b` in both tiers; the merge-on-read view must equal the
      * direct tier's eager merge, then the delta folds */
    def landAndCompare(b: Seq[Tele], what: String)(premise: => Unit): Unit = {
      Streams.upsertDeltaBatch(b.toDF(), out, batchId, compactEvery = 99)
      Streams.upsertBatch(b.toDF(), direct)
      batchId += 1
      premise
      assert(snap(Streams.upsertRead(spark, out)) === snap(spark.read.parquet(direct)), what)
      Streams.compactUpsertDeltas(spark, out)
      assert(snap(spark.read.parquet(out)) === snap(spark.read.parquet(direct)), s"$what, folded")
    }
    // eight stored dates plus a stored null-ts row
    val base = (25 to 31).map(d => t(s"2024-08-$d 10:00:00", d.toDouble, "id-a")) ++
      Seq(t("2024-09-01 10:00:00", 32.0, "id-a"), t(null, 0.5, "id-n"))
    landAndCompare(base, "base")(())
    // 08-27 and 08-30 in one file: its min/max range also covers the
    // untouched 08-28 and 08-29, which then ride the anti-join (still
    // half the store untouched, so the date-split plan runs)
    landAndCompare(Seq(
        t("2024-08-27 10:00:00", 270.0, "id-a"),
        t("2024-08-27 11:00:00", 271.0, "id-b"),
        t("2024-08-30 10:00:00", 300.0, "id-a")),
      "non-adjacent touched dates") {
      val ranges = graft.sources.Tables.dateRanges(pendingFooters(out), "event_date")
      assert(ranges.exists(_.exists { case (lo, hi) =>
        !lo.isAfter(java.time.LocalDate.parse("2024-08-28")) &&
          !hi.isBefore(java.time.LocalDate.parse("2024-08-29")) }),
        s"premise: one range spans the untouched dates, got $ranges")
    }
    // no column statistics: every date counts as touched, single scan
    spark.conf.set("parquet.column.statistics.enabled", "false")
    try Streams.upsertDeltaBatch(
      Seq(t("2024-08-26 10:00:00", 260.0, "id-a")).toDF(), out, batchId, compactEvery = 99)
    finally spark.conf.unset("parquet.column.statistics.enabled")
    Streams.upsertBatch(Seq(t("2024-08-26 10:00:00", 260.0, "id-a")).toDF(), direct)
    batchId += 1
    assert(graft.sources.Tables.dateRanges(pendingFooters(out), "event_date") === None,
      "premise: the delta was written without statistics")
    assert(snap(Streams.upsertRead(spark, out)) === snap(spark.read.parquet(direct)),
      "stats-less delta (single-scan fallback)")
    Streams.compactUpsertDeltas(spark, out)
    // every pending timestamp null: no date range, only the null partition
    // is touched; null keys never replace, so the rows append
    landAndCompare(Seq(t(null, 1.5, "id-n"), t(null, 2.5, "id-m")), "all-null-ts delta") {
      assert(graft.sources.Tables.dateRanges(pendingFooters(out), "event_date") === Some(Seq.empty),
        "premise: an all-null event_date has statistics but no range")
    }
  }

  private val BroadcastKey = "spark.sql.autoBroadcastJoinThreshold"

  test("resolved pending set == distributed window == eager upsertBatch: overlapping keys, null keys, replays, other sessions and processes, the row bound") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_upset").toString
    val direct = java.nio.file.Files.createTempDirectory("graft_upset_direct").toString
    def t(s: String, v: Double, id: String) =
      Tele("S", if (s == null) null else ts(s), v, None, id)
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("timeseries_id", "timestamp", "value")
      .collect()
      .map(r => s"${r.getString(0)}|${r.getTimestamp(1)}|${r.getDouble(2)}")
      .sorted
      .toSeq
    def check(what: String, resolved: Boolean, eager: Boolean = true,
        by: org.apache.spark.sql.SparkSession = spark): Seq[String] = {
      val view = Streams.upsertRead(by, out)
      assert(usesResolved(view) === resolved, s"$what: resolved-set plan expected = $resolved")
      val distributed = distributedRead(out)
      assert(!usesResolved(distributed), s"premise ($what): the reference reads the window plan")
      val got = snap(view)
      assert(got === snap(distributed), s"$what: resolved set vs distributed window")
      if (eager) assert(got === snap(spark.read.parquet(direct)), s"$what: vs eager upsertBatch")
      got
    }
    def land(b: Seq[Tele], id: Long, eager: Boolean = true,
        by: org.apache.spark.sql.SparkSession = spark): Unit = {
      Streams.upsertDeltaBatch(by.createDataFrame(b), out, id, compactEvery = 99)
      if (eager) Streams.upsertBatch(b.toDF(), direct)
    }
    land(Seq(
      t("2024-08-28 10:00:00", 1.0, "id-a"),
      t("2024-08-29 10:00:00", 2.0, "id-a"),
      t("2024-08-30 10:00:00", 3.0, "id-b"),
      t("2024-08-31 10:00:00", 4.0, "id-b"),
      t(null, 5.0, "id-n"),
      t("2024-08-30 11:00:00", 6.0, null)), 0)
    check("deltas only, before any compaction", resolved = false)
    Streams.compactUpsertDeltas(spark, out)
    assert(Streams.Resolved.get(spark, out).exists(_.rows.isEmpty), "compaction seeds an empty set")

    // overlapping keys across batches; null timestamp and null series rows
    // (null keys never replace a stored row, so they append)
    land(Seq(
      t("2024-08-30 10:00:00", 30.0, "id-b"),
      t("2024-08-31 12:00:00", 41.0, "id-c"),
      t(null, 50.0, "id-n"),
      t("2024-08-30 11:00:00", 60.0, null)), 1)
    check("one landing after the fold", resolved = true)
    land(Seq(
      t("2024-08-30 10:00:00", 31.0, "id-b"),
      t("2024-08-31 12:00:00", 42.0, "id-c"),
      t(null, 51.0, "id-m"),
      t("2024-08-31 11:00:00", 61.0, null)), 2)
    check("overlapping keys and null keys across batches", resolved = true)

    // a replayed pending batch: same rows, new part-file names
    val r3 = Seq(t("2024-08-30 10:00:00", 32.0, "id-b"), t("2024-08-31 12:00:00", 43.0, "id-c"))
    land(r3, 3)
    check("before the replay", resolved = true)
    land(r3, 3, eager = false)
    check("replay of the pending batch", resolved = false)
    Streams.compactUpsertDeltas(spark, out)
    // a replay of an already-folded lower batch while a higher one is
    // pending: the higher batch keeps winning on the shared key
    land(Seq(t("2024-08-30 10:00:00", 33.0, "id-b"), t("2024-08-31 10:00:00", 44.0, "id-b")), 4)
    check("after the fold", resolved = true)
    land(r3, 3, eager = false)
    check("replay of a folded lower batch id", resolved = false)
    Streams.compactUpsertDeltas(spark, out)

    // the set is the process's, not a session's: a landing in a second
    // session (a stream's foreachBatch runs in a session of its own)
    // extends it, and a third session's read merges against it
    land(Seq(t("2024-08-28 10:00:00", 10.0, "id-a")), 5)
    land(Seq(t("2024-08-28 10:00:00", 11.0, "id-a"), t("2024-08-29 10:00:00", 20.0, "id-a")), 6,
      by = spark.newSession())
    check("a delta landed by another session", resolved = true)
    check("read in a third session", resolved = true, by = spark.newSession())

    // a delta landed by another process: the set no longer matches the
    // pending files, and this process's next landing drops it
    landForeign(Seq(t("2024-08-29 10:00:00", 21.0, "id-a")).toDF(), out, 7)
    Streams.upsertBatch(Seq(t("2024-08-29 10:00:00", 21.0, "id-a")).toDF(), direct)
    check("a delta landed by another process", resolved = false)
    land(Seq(t("2024-08-29 10:00:00", 22.0, "id-a")), 8)
    check("this process lands after the foreign landing", resolved = false)
    Streams.compactUpsertDeltas(spark, out)

    // the set is not tied to the broadcast threshold: at -1 the anti-join
    // against it is not broadcast, and the answer is the same
    val saved = spark.conf.getOption(BroadcastKey)
    try {
      spark.conf.set(BroadcastKey, "-1")
      land(Seq(t("2024-08-30 10:00:00", 34.0, "id-b")), 9)
      check("threshold -1", resolved = true)
      spark.conf.set(BroadcastKey, "64b")
      land(Seq(t("2024-08-31 10:00:00", 45.0, "id-b")), 10)
      check("threshold 64 bytes", resolved = true)
    } finally saved.fold(spark.conf.unset(BroadcastKey))(spark.conf.set(BroadcastKey, _))

    // one null key in two pending batches: the window keeps the later
    // batch's row, and so does the set. (The direct tier appends both,
    // since a null key never matches in its merge, so no eager compare
    // from here on.)
    land(Seq(t(null, 1.0, "id-q"), t("2024-08-28 09:00:00", 1.0, null)), 12, eager = false)
    land(Seq(t(null, 2.0, "id-q"), t("2024-08-28 09:00:00", 2.0, null)), 13, eager = false)
    val got = check("a null key in two pending batches", resolved = true, eager = false)
    assert(got.contains("id-q|null|2.0") && !got.contains("id-q|null|1.0"))
    assert(got.contains("null|2024-08-28 09:00:00.0|2.0") && !got.contains("null|2024-08-28 09:00:00.0|1.0"))

    // the row bound: a set of exactly MaxRows winners is kept, one more
    // landed row drops it, and later landings find no set to extend
    Streams.compactUpsertDeltas(spark, out)
    def bulk(from: Long, until: Long) = spark.range(from, until).select(
      lit("S").as("sensor_name"),
      (lit(ts("2024-08-01 00:00:00").getTime / 1000) + col("id")).cast("timestamp").as("timestamp"),
      col("id").cast("double").as("value"),
      lit(null).cast("byte").as("fc1_flag"),
      lit("id-bulk").as("timeseries_id"))
    val max = Streams.Resolved.MaxRows.toLong
    Streams.upsertDeltaBatch(bulk(0, max), out, 14, compactEvery = 99)
    assert(Streams.Resolved.get(spark, out).exists(_.rows.size == max), "premise: MaxRows winners fit")
    check("exactly MaxRows pending winners", resolved = true, eager = false)
    Streams.upsertDeltaBatch(bulk(max, max + 1), out, 15, compactEvery = 99)
    check("one winner past MaxRows", resolved = false, eager = false)
    land(Seq(t("2024-08-31 12:00:00", 47.0, "id-c")), 16, eager = false)
    check("a landing after the set was dropped", resolved = false, eager = false)
    Streams.compactUpsertDeltas(spark, out)
    land(Seq(t("2024-08-31 12:00:00", 48.0, "id-c")), 17, eager = false)
    check("the next fold seeds a set again", resolved = true, eager = false)
  }

  test("resolved pending set: the sink's landings, in the stream's own session, serve reads in the caller's session") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_upsink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_upsink_ckpt").toString
    val direct = java.nio.file.Files.createTempDirectory("graft_upsink_direct").toString
    val mem = MemoryStream[Tele]
    // compactEvery=3: batch 2 folds 0-2 and seeds the set, batches 3 and 4
    // extend it
    val q = Streams
      .upsertDeltaSink(mem.toDF(), out, ckpt, Trigger.ProcessingTime("0 seconds"), compactEvery = 3)
      .start()
    def t(s: String, v: Double, id: String) = Tele("S", ts(s), v, None, id)
    val batches = Seq(
      Seq(t("2024-08-28 12:00:00", 1.0, "id-a"), t("2024-08-29 09:00:00", 5.0, "id-b")),
      Seq(t("2024-08-28 12:00:00", 2.0, "id-a")),
      Seq(t("2024-08-30 10:00:00", 4.0, "id-c")),
      Seq(t("2024-08-28 12:00:00", 3.0, "id-a"), t("2024-08-31 10:00:00", 6.0, "id-d")),
      Seq(t("2024-08-31 10:00:00", 7.0, "id-d"), t("2024-08-29 09:00:00", 8.0, "id-b")))
    try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    finally q.stop()
    batches.foreach(b => Streams.upsertBatch(b.toDF(), direct))
    assert(new java.io.File(s"$out/_delta").list().count(_.startsWith("batch=")) === 2,
      "premise: batches 3 and 4 are pending")
    val view = Streams.upsertRead(spark, out)
    assert(usesResolved(view), "the caller's read merges against the stream's set")
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("timeseries_id", "timestamp", "value").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet
    assert(snap(view) === snap(distributedRead(out)))
    assert(snap(view) === snap(spark.read.parquet(direct)))
  }

  /** A compacted store of two series over four days, its pending landing
    * `pend` (one process, so the resolved set holds it), and the same
    * batches merged eagerly by `upsertBatch`, as driver-side rows. */
  private def servedStore(name: String, pend: Seq[Tele]) = {
    val out = java.nio.file.Files.createTempDirectory(name).toString
    val direct = java.nio.file.Files.createTempDirectory(s"${name}_direct").toString
    val base = for (d <- 28 to 31; id <- Seq("id-a", "id-b"); h <- 9 to 11)
      yield Tele("S", ts(f"2024-08-$d%02d $h%02d:00:00"), d * 100.0 + h, None, id)
    Streams.upsertDeltaBatch(base.toDF(), out, batchId = 0, compactEvery = 99)
    Streams.compactUpsertDeltas(spark, out)
    Streams.upsertBatch(base.toDF(), direct)
    if (pend.nonEmpty) {
      Streams.upsertDeltaBatch(pend.toDF(), out, batchId = 1, compactEvery = 99)
      Streams.upsertBatch(pend.toDF(), direct)
    }
    (out, triples(spark.read.parquet(direct)))
  }

  private def triples(df: org.apache.spark.sql.DataFrame) =
    df.select("timeseries_id", "timestamp", "value").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet

  private def inRange(rows: Set[(String, Timestamp, Double)], id: String, from: String, to: String) =
    rows.filter { case (i, at, _) => i == id && !at.before(ts(from)) && !at.after(ts(to)) }

  private val winner = Tele("S", ts("2024-08-30 10:00:00"), 99.0, None, "id-b")

  test("a warm upsertRead with new bounds compiles nothing over a compacted store, and at most the set's two local-relation predicates on the resolved-set path") {
    // each plan shape is read once to warm it: on the set's path a range
    // holding a winner plans the anti-join, one holding none a lone scan
    val warm = Seq(
      ("id-b", "2024-08-29 00:00:00", "2024-08-30 23:59:59"),
      ("id-a", "2024-08-28 00:00:00", "2024-08-31 23:59:59"))
    val fresh = Seq(
      ("id-b", "2024-08-30 09:30:00", "2024-08-31 10:30:00"),
      ("id-a", "2024-08-28 10:00:00", "2024-08-30 10:00:00"),
      ("id-b", "2024-08-28 00:00:00", "2024-08-31 23:59:59"),
      ("id-b", "2024-08-28 00:00:00", "2024-08-29 23:59:59"))
    def serve(what: String, out: String, eager: Set[(String, Timestamp, Double)], most: Long): Unit = {
      def read(id: String, from: String, to: String) =
        triples(Layout.rangeQuery(Streams.upsertRead(spark, out), id, from, to))
      warm.foreach { case (id, from, to) =>
        assert(read(id, from, to) === inRange(eager, id, from, to), s"$what: warm $id [$from, $to]")
      }
      fresh.foreach { case (id, from, to) =>
        val (got, n) = compilesDuring(read(id, from, to))
        assert(got === inRange(eager, id, from, to), s"$what: $id [$from, $to]")
        assert(n <= most, s"$what: a warm read of $id [$from, $to] compiled $n classes")
      }
    }
    val (compacted, all) = servedStore("graft_upcompile", Nil)
    serve("compacted store", compacted, all, 0)
    val (pending, merged) = servedStore("graft_upcompile_set", Seq(winner))
    assert(usesResolved(Streams.upsertRead(spark, pending)), "premise: the set serves the reads")
    serve("resolved set", pending, merged, 2)
  }

  test("resolved-set read plans: a filter past every winner leaves the compacted read's one scan; one on a winner adds a broadcast anti-join") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    val (out, eager) = servedStore("graft_upshape", Seq(winner))
    val view = Streams.upsertRead(spark, out)
    assert(usesResolved(view), "premise: the set serves the read")
    withPlanShapeConf() {
      val (from, to) = ("2024-08-28 00:00:00", "2024-08-31 23:59:59")
      // id-a holds no winner; nor does id-b before 08-30
      Seq(("id-a", from, to), ("id-b", from, "2024-08-29 23:59:59")).foreach { case (id, f, t) =>
        val past = Layout.rangeQuery(view, id, f, t)
        val plan = executedPlan(past)
        assert(plan.collect { case s: FileSourceScanExec => s }.size === 1, s"one scan:\n$plan")
        assert(plan.collect { case j: BaseJoinExec => j }.isEmpty, s"no join:\n$plan")
        assert(plan.collect { case u: UnionExec => u }.isEmpty, s"no union:\n$plan")
        assert(triples(past) === inRange(eager, id, f, t))
      }
      val on = Layout.rangeQuery(view, "id-b", from, to)
      val plan = executedPlan(on)
      assert(plan.collect { case s: FileSourceScanExec => s }.size === 1, s"one scan:\n$plan")
      assert(plan.collect { case j: BaseJoinExec => j }.map(j => (j.getClass, j.joinType)) ===
        Seq((classOf[BroadcastHashJoinExec], LeftAnti)), s"one broadcast anti-join:\n$plan")
      assert(triples(on) === inRange(eager, "id-b", from, to))
      assert(triples(on).contains(("id-b", winner.timestamp, 99.0)))
    }
  }

  test("compaction from the resolved set leaves the distributed fold's rows per partition; a failed delete leaves no set and the re-fold is exact") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_upfold").toString
    val twin = java.nio.file.Files.createTempDirectory("graft_upfold_twin").toString
    val ref = spark.newSession()
    def t(s: String, v: Double, id: String) =
      Tele("S", if (s == null) null else ts(s), v, None, id)
    /** rows per partition: the partition column read back with each row */
    def partRows(dir: String) = spark.read.parquet(dir)
      .select("event_date", "timeseries_id", "timestamp", "value")
      .collect()
      .map(r => s"${r.get(0)}|${r.getString(1)}|${r.getTimestamp(2)}|${r.getDouble(3)}")
      .sorted
      .toSeq
    val batches = Seq(
      Seq(t("2024-08-28 10:00:00", 1.0, "id-a"), t("2024-08-29 10:00:00", 2.0, "id-a"),
        t(null, 3.0, "id-n")),
      Seq(t("2024-08-29 10:00:00", 20.0, "id-a"), t("2024-08-30 10:00:00", 4.0, "id-b"),
        t(null, 30.0, "id-n")),
      Seq(t("2024-08-29 10:00:00", 21.0, "id-a"), t("2024-08-31 10:00:00", 5.0, null),
        t(null, 31.0, "id-n"), t(null, 6.0, "id-m")))
    // batch 0 folds in both stores (seeding this session's set in `out`),
    // then batches 1 and 2 fold from the set in `out` and from the
    // distributed window in `twin`
    Seq(out -> spark, twin -> ref).foreach { case (dir, by) =>
      Streams.upsertDeltaBatch(by.createDataFrame(batches.head), dir, 0, compactEvery = 99)
      if (dir == out) Streams.compactUpsertDeltas(by, dir) else foldDistributed(by, dir)
      batches.tail.zipWithIndex.foreach { case (b, i) =>
        Streams.upsertDeltaBatch(by.createDataFrame(b), dir, i + 1L, compactEvery = 99)
      }
    }
    assert(Streams.Resolved.get(spark, out).exists(_.rows.size == 5), "premise: the set holds both landings")
    assert(Streams.Resolved.get(ref, twin).isEmpty, "premise: the twin has no set")
    assert(Streams.compactUpsertDeltas(spark, out) === 2)
    assert(foldDistributed(ref, twin) === 2)
    assert(partRows(out) === partRows(twin))
    assert(partRows(out).exists(_.startsWith("null|")), "premise: null-date rows were folded")

    // crash mid-delete with a set present: the fold runs from the set, the
    // delete of the higher batch fails, so it stays pending and no set may
    // be seeded; the re-fold (distributed) must leave the same rows
    Seq(Seq(t("2024-08-30 10:00:00", 40.0, "id-b")), Seq(t("2024-08-30 10:00:00", 41.0, "id-b"),
        t("2024-08-28 10:00:00", 10.0, "id-a"))).zipWithIndex.foreach { case (b, i) =>
      Streams.upsertDeltaBatch(b.toDF(), out, 3L + i, compactEvery = 99)
      Streams.upsertDeltaBatch(ref.createDataFrame(b), twin, 3L + i, compactEvery = 99)
    }
    assert(Streams.Resolved.get(spark, out).exists(_.rows.size == 2), "premise: a set is present")
    val hc = spark.sparkContext.hadoopConfiguration
    val savedFs = Seq("fs.file.impl", "fs.file.impl.disable.cache").map(k => k -> Option(hc.get(k)))
    hc.set("fs.file.impl", classOf[FailingDeleteFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    FailingDeleteFs.failName = "batch=4"
    try Streams.compactUpsertDeltas(spark, out)
    finally {
      FailingDeleteFs.failName = null
      savedFs.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
    }
    assert(new java.io.File(s"$out/_delta").list().filter(_.startsWith("batch=")).toSeq === Seq("batch=4"),
      "premise: the lower delete ran, the higher one failed")
    assert(Streams.Resolved.get(spark, out).isEmpty, "a set is seeded only after every delete succeeds")
    Streams.compactUpsertDeltas(spark, out) // the re-fold after the "crash"
    foldDistributed(ref, twin)
    assert(partRows(out) === partRows(twin))
    assert(Streams.Resolved.get(spark, out).exists(_.rows.isEmpty))
  }

  test("a fold writes one file per date partition below the target file size: window fold, resolved-set fold, direct tier") {
    val delta = java.nio.file.Files.createTempDirectory("graft_foldfiles").toString
    val direct = java.nio.file.Files.createTempDirectory("graft_foldfiles_direct").toString
    // 12 rows over two dates: more rows per date than local slices
    def batch(v: Double) = (0 until 12).map(i =>
      Tele("S", ts(f"2024-08-${28 + i % 2}%02d 10:$i%02d:00"), v + i, None, s"id-${i % 5}")).toDF()
    /** parquet data files per `event_date=` directory of `dir` */
    def filesPerDate(dir: String): Map[String, Int] =
      new java.io.File(dir).listFiles().toSeq.filter(_.getName.startsWith("event_date="))
        .map(d => d.getName -> d.list().count(_.endsWith(".parquet"))).toMap
    val want = Map("event_date=2024-08-28" -> 1, "event_date=2024-08-29" -> 1)
    // no live partition and no set: the window fold
    Seq(0L, 1L).foreach(i => Streams.upsertDeltaBatch(batch(i), delta, i, compactEvery = 99))
    Streams.compactUpsertDeltas(spark, delta)
    assert(filesPerDate(delta) === want)
    // live partitions and this session's set: the resolved-set fold
    Seq(2L, 3L).foreach(i => Streams.upsertDeltaBatch(batch(i), delta, i, compactEvery = 99))
    assert(Streams.Resolved.get(spark, delta).exists(_.rows.nonEmpty), "premise: the set holds the landings")
    Streams.compactUpsertDeltas(spark, delta)
    assert(filesPerDate(delta) === want)
    // live partitions and no set: the window fold over them
    Streams.upsertDeltaBatch(batch(4), delta, 4L, compactEvery = 99)
    assert(foldDistributed(spark, delta) === 1)
    assert(filesPerDate(delta) === want)
    Seq(0.0, 1.0).foreach(v => Streams.upsertBatch(batch(v), direct))
    assert(filesPerDate(direct) === want)
    // dates fragmented as per-micro-batch appends leave them: compaction
    val frag = java.nio.file.Files.createTempDirectory("graft_foldfiles_compact").toString
    batch(5.0).withColumn("event_date", to_date(col("timestamp")))
      .repartition(4).write.mode("overwrite").partitionBy("event_date").parquet(frag)
    assert(filesPerDate(frag).values.forall(_ > 1), "premise: fragmented dates")
    Seq("2024-08-28", "2024-08-29").foreach(d => Layout.compactPartition(spark, frag, d))
    assert(filesPerDate(frag) === want)
  }

  /** Name and length of every file under `dir`, recursively. */
  private def filesUnder(dir: String): Set[(String, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> java.nio.file.Files.size(f)).toSet
  }

  /** A copy of `batch` whose `column` raises an error when a job reads it.
    * The exchange keeps the optimizer from evaluating the column on the
    * driver, as it would over a local relation. */
  private def failingAt(batch: org.apache.spark.sql.DataFrame, column: String) =
    batch.repartition(1).withColumn(column,
      raise_error(lit("replay failed")).cast(batch.schema(column).dataType))

  test("a replayed MV batch whose job fails leaves the stored partials and the reader as they were") {
    val mv = java.nio.file.Files.createTempDirectory("graft_mv_fail").toString
    def t(s: String, id: String) = Tele("S", ts(s), 1.0, None, id)
    val b0 = Seq(t("2024-08-25 10:00:00", "id-a"), t("2024-08-26 10:00:00", "id-b"))
    val b1 = Seq(t("2024-08-27 10:00:00", "id-a"), t("2024-08-28 10:00:00", "id-b"))
    Streams.countMvBatch(b0.toDF(), mv, batchId = 0L)
    Streams.countMvBatch(b1.toDF(), mv, batchId = 1L)
    def read() = Streams.mvMixDrift(spark, mv).collect().toSeq
    val (stored, answer) = (filesUnder(s"$mv/batch_id=1"), read())
    assert(answer.nonEmpty)
    intercept[Exception](Streams.countMvBatch(failingAt(b1.toDF(), "timeseries_id"), mv, batchId = 1L))
    assert(filesUnder(s"$mv/batch_id=1") === stored)
    assert(read() === answer, "a failed replay must not change what the MV reads")
  }

  test("a re-landed delta batch whose job fails leaves _delta/batch=N and upsertRead as they were") {
    val out = java.nio.file.Files.createTempDirectory("graft_delta_fail").toString
    def t(s: String, v: Double, id: String) = Tele("S", ts(s), v, None, id)
    val b0 = Seq(t("2024-08-28 12:00:00", 1.0, "id-a"), t("2024-08-29 09:00:00", 5.0, "id-b"))
    val b1 = Seq(t("2024-08-28 12:00:00", 2.0, "id-a"))
    Streams.upsertDeltaBatch(b0.toDF(), out, batchId = 0, compactEvery = 99)
    Streams.upsertDeltaBatch(b1.toDF(), out, batchId = 1, compactEvery = 99)
    def read() = Streams.upsertRead(spark, out)
      .select("timeseries_id", "timestamp", "value").collect().toSet
    val (stored, answer) = (filesUnder(s"$out/_delta/batch=1"), read())
    assert(answer.map(_.getDouble(2)) === Set(2.0, 5.0))
    intercept[Exception](
      Streams.upsertDeltaBatch(failingAt(b1.toDF(), "value"), out, batchId = 1, compactEvery = 99))
    assert(filesUnder(s"$out/_delta/batch=1") === stored)
    assert(read() === answer, "a failed re-landing must not change what upsertRead returns")
  }

  test("one write discipline: one batch landing, one per-date fold, one partition swap, one key dedup") {
    import java.nio.file.{Files, Path, Paths}
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 40, s"premise: the main sources are under $root")
    val streams = root.resolve("graft/streaming/Streams.scala")
    val layout = root.resolve("graft/sources/Layout.scala")
    def lines(p: Path) = Files.readAllLines(p).asScala.toIndexedSeq
    /** Line numbers of the member `name` of the object in `p`: its `def`
      * line up to the next line at the members' indentation. */
    def body(p: Path, name: String): Set[Int] = {
      val ls = lines(p)
      val start = ls.indexWhere(_.matches(s"  (private )?def $name[(\\[].*"))
      assert(start >= 0, s"premise: $p defines $name")
      val end = ls.indexWhere(_.matches("  \\S.*"), start + 1)
      (start until (if (end < 0) ls.length else end)).toSet
    }
    /** Lines of `files` matching `re`, outside the members `allowed` of `home`. */
    def strays(files: Seq[Path], re: String, home: Path, allowed: String*): Seq[String] = {
      val inside = allowed.flatMap(body(home, _)).toSet
      files.flatMap { p =>
        lines(p).zipWithIndex.collect {
          case (l, i) if re.r.findFirstIn(l).isDefined && !(p == home && inside(i)) =>
            s"$p:${i + 1}: ${l.trim}"
        }
      }
    }
    // a per-batch directory is written only by the landing helper
    assert(strays(files, "=\\$\\{?batchId\\b|\\b(batch|batch_id)=\\$", streams, "landBatch") === Nil)
    assert(strays(Seq(streams), "\\.write\\b|\\.rename\\(", streams, "landBatch") === Nil)
    // Layout renames only to swap a partition and to heal a crashed swap
    assert(strays(Seq(layout), "\\.rename\\(", layout, "swapPartition", "recoverPartition") === Nil)
    assert(strays(Seq(layout), "swapPartition\\(", layout, "swapPartition", "rewritePartition") === Nil)
    // one per-date fold and one distinct-date helper
    assert(strays(files.filter(_ != layout), "upsertPartition\\(", streams, "foldDates") === Nil)
    assert(strays(Seq(streams), "col\\(\"event_date\"\\)\\.cast\\(", streams, "datesOf") === Nil)
    // one (series, ts) window; the in-batch rule in one place
    assert(strays(Seq(streams), "row_number\\(", streams, "firstPerKey") === Nil)
    assert(strays(Seq(streams), "firstPerKey\\(", streams,
      "firstPerKey", "dedupBatch", "deltaWinners") === Nil)
    // one foreachBatch sink chain; only it and the ingest sink checkpoint
    assert(strays(Seq(streams), "\\.foreachBatch\\(", streams, "batchSink") === Nil)
    assert(strays(Seq(streams), "\"checkpointLocation\"", streams,
      "batchSink", "ingestFiles") === Nil)
    // the key and the summary sizes are constants, never parameters
    assert(strays(Seq(streams, layout), "\\b(seriesCol|tsCol|k|minAgree)\\s*:\\s*[A-Z]", streams) === Nil)
    // so are the kernels' event-time values; only faultCounts takes a lateness
    assert(strays(Seq(streams), "\\b(stateTtlMinutes|windowLen|hop|gap|maxDelay|horizonMinutes" +
      "|alpha|minRun|lo|hi)\\s*:\\s*[A-Z]", streams) === Nil)
    assert(strays(Seq(streams), "\\bwatermark\\s*:\\s*[A-Z]", streams, "faultCounts") === Nil)
    // one watermark call, and keyed-state rows are sorted only in the fold
    // (the other sorts order dates and batch ids)
    assert(strays(Seq(streams), "\\.withWatermark\\(", streams, "watermarked") === Nil)
    assert(strays(Seq(streams), "\\.(sortBy|sortWith|sorted)\\b", streams,
      "orderedFold", "foldDates", "deltaDirs") === Nil)
  }

  test("sketchMvSink: stream-maintained KLL MV equals the direct batch sketch; replay is a no-op; day range prunes") {
    implicit val sqlCtx = spark.sqlContext
    val mv = java.nio.file.Files.createTempDirectory("graft_kll_stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_kll_ckpt").toString
    val mem = MemoryStream[Tele]
    val q = Streams
      .sketchMvSink(mem.toDF(), mv, ckpt, trigger = Trigger.ProcessingTime("0 seconds"))
      .start()
    def t(s: String, v: Double, id: String) = Tele("S", ts(s), v, None, id)
    // b1: series A day 1 (five values), series B day 1
    val b1 = (1 to 5).map(i => t(s"2024-08-28 12:0$i:00", i.toDouble, "id-a")) :+
      t("2024-08-28 13:00:00", 10.0, "id-b")
    mem.addData(b1)
    q.processAllAvailable()
    // b2: MORE of series A day 1 (a second partial for the same (series,
    // day)) plus series A day 2
    val b2 = (6 to 10).map(i => t(s"2024-08-28 14:0${i - 6}:00", i.toDouble, "id-a")) ++
      Seq(t("2024-08-29 09:00:00", 100.0, "id-a"), t("2024-08-29 09:01:00", 102.0, "id-a"))
    mem.addData(b2)
    q.processAllAvailable()
    q.stop()
    def snapshot() = Streams
      .mvQuantiles(spark, mv, "2024-08-28", "2024-08-29")
      .collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Double]("p50")))
      .toMap
    val got = snapshot()
    // stream-MV == direct batch sketch over the same rows (exact regime:
    // 12 values per series << k, so quantiles are exact order statistics)
    val direct = (b1 ++ b2).toDF()
      .groupBy("timeseries_id")
      .agg(kll_sketch_agg_double(col("value"), 16384).as("s"))
      .select(
        col("timeseries_id"),
        kll_sketch_get_n_double(col("s")).as("n"),
        kll_sketch_get_quantile_double(col("s"), lit(0.5)).as("p50"))
      .collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Double]("p50")))
      .toMap
    assert(got === direct, "stream-maintained MV must equal the direct sketch")
    // replay idempotence: re-running batch 1's merge must change nothing
    // (the partial REPLACES its own directory, never double-merges)
    Streams.sketchMvBatch(b1.toDF(), mv, batchId = 0)
    assert(snapshot() === got, "replaying a batch must not double-weight the sketch")
    // day-range read: day 2 only sees series A's two day-2 values
    val day2 = Streams.mvQuantiles(spark, mv, "2024-08-29", "2024-08-29")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(day2 === Map("id-a" -> 2L), s"day-range filter leaked: $day2")
  }

  test("ingestFiles: JSON-lines dir lands as day-partitioned parquet, exactly once") {
    val in = java.nio.file.Files.createTempDirectory("graft_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val json = rows.map(t =>
      s"""{"sensor_name":"${t.sensor_name}","timestamp":"${t.timestamp}","value":${t.value},"timeseries_id":"${t.timeseries_id}"}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(in, "batch1.json"),
      json.mkString("\n").getBytes)
    val q = Streams
      .ingestFiles(spark, in, out, ckpt, Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    // restart on same checkpoint: no new files -> no duplicate rows
    val q2 = Streams
      .ingestFiles(spark, in, out, ckpt, Trigger.AvailableNow()).start()
    q2.processAllAvailable(); q2.stop()
    val back = spark.read.parquet(out)
    assert(back.count() === rows.length)
    assert(back.columns.contains("event_date"))
    assert(back.filter(col("event_date") === "2024-08-28").count() === rows.length)
  }

  test("end-to-end pipeline: ingestFiles → faultRuns + upsertSink + countMvSink/mvMixDrift + cmMvSink, two micro-batches, replay is a no-op") {
    // The full reference loop (R1 ingest + R5 fault scan + R6 periodic job +
    // R3 point update, main.rs:234-240,384-406) as ONE continuously running
    // composition: JSON files land via the file sink, a downstream stream
    // over the landed parquet feeds four sinks at once — the upsert store,
    // the daily-count MV, the Count-Min frequency MV, and the typed
    // fault-run detector — and a second file delivers both a
    // run-completing fault AND a late correction.
    import graft.streaming.Telemetry
    implicit val sqlCtx = spark.sqlContext
    def dir(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val in = dir("graft_e2e_in"); val landed = dir("graft_e2e_landed")
    val store = dir("graft_e2e_store"); val mv = dir("graft_e2e_mv")
    val iCkpt = dir("graft_e2e_ickpt"); val uCkpt = dir("graft_e2e_uckpt")
    val mCkpt = dir("graft_e2e_mckpt")
    val cmMv = dir("graft_e2e_cmmv"); val cCkpt = dir("graft_e2e_cckpt")

    def t(s: String, v: Double, id: String) = Tele("S", ts(s), v, None, id)
    // b1: id-a builds a 2-fault run late on day 1; id-b has day-1 and
    // day-2 rows, the newest just past midnight
    val b1 = Seq(
      t("2024-08-28 23:55:00", 0.97, "id-a"),
      t("2024-08-28 23:56:00", 0.98, "id-a"),
      t("2024-08-28 22:55:00", 0.10, "id-a"),
      t("2024-08-28 09:00:00", 0.50, "id-b"),
      t("2024-08-29 00:00:00", 0.20, "id-b"))
    // b2: the third consecutive fault for id-a (state must carry across the
    // micro-batch AND the file-landing boundary), a late CORRECTION for
    // (id-b, day-1 09:00), and a fresh day-2 append
    val b2 = Seq(
      t("2024-08-28 23:57:00", 0.99, "id-a"),
      t("2024-08-28 09:00:00", 0.90, "id-b"),
      t("2024-08-29 00:01:00", 0.30, "id-b"))
    def writeJson(name: String, rows: Seq[Tele]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(in, name),
        rows.map(r =>
          s"""{"sensor_name":"${r.sensor_name}","timestamp":"${r.timestamp}","value":${r.value},"timeseries_id":"${r.timeseries_id}"}""")
          .mkString("\n").getBytes)

    // stage 1: R1/R9 ingest — JSON-lines → day-partitioned parquet
    val ingest = Streams
      .ingestFiles(spark, in, landed, iCkpt, Trigger.ProcessingTime("0 seconds"))
      .start()
    // stage 2: one downstream stream over the landed parquet, three sinks.
    // The parquet file source follows the file sink's _spark_metadata log,
    // so downstream only ever sees files the ingest query committed.
    val landedStream = spark.readStream
      .schema(Streams.telemetrySchema.add("event_date", org.apache.spark.sql.types.DateType))
      .parquet(landed)
    val flagged = Streams.faultFlags(landedStream.drop("event_date"), threshold = 0.95)
    val upsertQ = Streams
      .upsertSink(flagged, store, uCkpt, Trigger.ProcessingTime("0 seconds"))
      .start()
    val mvQ = Streams
      .countMvSink(flagged, mv, mCkpt, Trigger.ProcessingTime("0 seconds"))
      .start()
    val cmQ = Streams
      .cmMvSink(flagged, cmMv, cCkpt, Trigger.ProcessingTime("0 seconds"))
      .start()
    // the scenario spans two calendar days: b2's day-1 fault (23:57) stays
    // inside the 10 min lateness of b1's newest row (day 2, 00:00)
    val alertsQ = Streams
      .faultRuns(
        landedStream.select("sensor_name", "timestamp", "value", "fc1_flag", "timeseries_id")
          .as[Telemetry],
        threshold = 0.95)
      .writeStream.format("memory").queryName("e2e_alerts").outputMode("append")
      .start()
    def drainAll(): Unit = {
      ingest.processAllAvailable()
      upsertQ.processAllAvailable(); mvQ.processAllAvailable()
      cmQ.processAllAvailable(); alertsQ.processAllAvailable()
    }

    writeJson("b1.json", b1); drainAll()
    assert(spark.table("e2e_alerts").count() === 0, "run of 2 must stay silent")
    assert(spark.read.parquet(store).count() === 5)
    // capture the MV's batch directories BEFORE b2 lands, so the replay
    // check below can verify its own precondition (b2 in ONE batch) instead
    // of silently assuming it (r10 advice)
    def batchDirs(d: String) = Option(new java.io.File(d).list()).getOrElse(Array.empty[String])
      .filter(_.startsWith("batch_id=")).toSet
    def mvBatchDirs() = batchDirs(mv)
    val mvBatchesBeforeB2 = mvBatchDirs()
    val cmBatchesBeforeB2 = batchDirs(cmMv)
    writeJson("b2.json", b2); drainAll()
    Seq(ingest, upsertQ, mvQ, cmQ, alertsQ).foreach(_.stop())

    // landed: all 8 rows, day-partitioned
    val landedDf = spark.read.parquet(landed)
    assert(landedDf.count() === 8)
    assert(landedDf.filter(col("event_date") === "2024-08-29").count() === 2)
    // alerts: exactly one, fired by the b2 row using b1's carried state
    val alerts = spark.table("e2e_alerts").collect()
      .map(r => (r.getAs[String]("timeseries_id"), r.getAs[Int]("run_length")))
    assert(alerts.toSeq === Seq(("id-a", 3)), s"got ${alerts.toSeq}")
    // store: the correction REPLACED the stored row (7 rows, not 8), flags set
    def snapshot() = spark.read.parquet(store)
      .select(col("timeseries_id"), col("timestamp"), col("value"),
        col("fc1_flag").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toSet
    val afterB2 = snapshot()
    assert(afterB2 === Set(
      ("id-a", ts("2024-08-28 23:55:00"), 0.97, 1L),
      ("id-a", ts("2024-08-28 23:56:00"), 0.98, 1L),
      ("id-a", ts("2024-08-28 22:55:00"), 0.10, -1L),
      ("id-a", ts("2024-08-28 23:57:00"), 0.99, 1L),
      ("id-b", ts("2024-08-28 09:00:00"), 0.90, -1L), // correction won
      ("id-b", ts("2024-08-29 00:00:00"), 0.20, -1L),
      ("id-b", ts("2024-08-29 00:01:00"), 0.30, -1L)))
    // MV drift: day 28 is the old half (id-a 4, id-b 2), day 29 the new
    // (id-b 2) — exact integer shares over t_old=6, t_new=2
    def driftMap() = Streams.mvMixDrift(spark, mv).collect()
      .map(r => r.getAs[String]("timeseries_id") ->
        (r.getAs[Long]("n_old"), r.getAs[Long]("n_new"),
         r.getAs[Long]("drift_num"), r.getAs[Long]("drift_den")))
      .toMap
    val drift = driftMap()
    assert(drift === Map(
      "id-a" -> ((4L, 0L, 8L, 24L)),
      "id-b" -> ((2L, 2L, 8L, 24L))), s"got $drift")
    // CM frequency MV: point estimates over the full landed range equal
    // the exact per-series landed-row counts (collision-free regime), and
    // a never-seen key reads its untouched cell as 0
    def cmMap() = Streams
      .cmEstimate(spark, cmMv, Seq("id-a", "id-b", "id-ghost"),
        "2024-08-28", "2024-08-29")
      .collect()
      .map(r => r.getAs[String]("timeseries_id") -> r.getAs[Long]("est"))
      .toMap
    val cmEst = cmMap()
    assert(cmEst === Map("id-a" -> 4L, "id-b" -> 4L, "id-ghost" -> 0L),
      s"got $cmEst")

    // replay: at-least-once redelivery of b2 through BOTH batch kernels
    // must leave every read model unchanged
    val b2Flagged = Streams.faultFlags(b2.toDF(), threshold = 0.95)
    Streams.upsertBatch(b2Flagged, store)
    assert(snapshot() === afterB2, "upsert replay must be a no-op")
    // precondition, not assumption (r10 advice): replaying ALL of b2 into
    // one batch_id is only a no-op if the stream really landed b2 in that
    // one batch — if the file source ever splits the commit across
    // triggers (maxFilesPerTrigger, an extra non-empty micro-batch), fail
    // with the real diagnosis instead of a spurious double-count mismatch
    val newMvBatches = mvBatchDirs() -- mvBatchesBeforeB2
    assert(newMvBatches.size === 1,
      s"replay precondition: b2 landed across ${newMvBatches.size} MV batch " +
        s"directories ($newMvBatches) — the whole-b2 replay below requires one")
    val lastMvBatch = newMvBatches.head.stripPrefix("batch_id=").toLong
    Streams.countMvBatch(b2Flagged, mv, lastMvBatch)
    assert(driftMap() === drift, "count-MV replay must be a no-op")
    // same precondition + replay through the CM kernel: identical cells
    val newCmBatches = batchDirs(cmMv) -- cmBatchesBeforeB2
    assert(newCmBatches.size === 1,
      s"replay precondition: b2 landed across ${newCmBatches.size} CM batch " +
        s"directories ($newCmBatches) — the whole-b2 replay below requires one")
    Streams.cmMvBatch(
      b2Flagged, cmMv, newCmBatches.head.stripPrefix("batch_id=").toLong)
    assert(cmMap() === cmEst, "CM-MV replay must be a no-op")

    // stage 3: the sensor-death detector joins the loop (the one streaming
    // kernel the e2e composition had not exercised). The ingest restarts on
    // its checkpoint (exactly-once resume), silentSeries reads the SAME
    // landed parquet: id-a stops reporting after b2 (last row 23:57), id-b
    // keeps reporting on day 3 — the watermark advancing past id-a's
    // last-seen + 30 min horizon must fire EXACTLY one alert, for id-a.
    val silentQ = Streams.silentSeries(
      landedStream
        .select("sensor_name", "timestamp", "value", "fc1_flag", "timeseries_id")
        .as[Telemetry])
      .writeStream.format("memory").queryName("e2e_silent").outputMode("append")
      .start()
    silentQ.processAllAvailable() // initial load: b1+b2, watermark arms
    val ingest2 = Streams
      .ingestFiles(spark, in, landed, iCkpt, Trigger.ProcessingTime("0 seconds"))
      .start()
    def t3(s: String, id: String) = Tele("S", ts(s), 0.10, None, id)
    writeJson("b3.json", Seq(t3("2024-08-30 10:00:00", "id-b")))
    ingest2.processAllAvailable(); silentQ.processAllAvailable()
    writeJson("b4.json", Seq(t3("2024-08-30 10:01:00", "id-b")))
    ingest2.processAllAvailable(); silentQ.processAllAvailable()
    ingest2.stop(); silentQ.stop()
    val silent = spark.table("e2e_silent").collect()
      .map(r => (r.getAs[String]("timeseries_id"),
        r.getAs[java.sql.Timestamp]("last_seen"), r.getAs[Long]("silent_for_ms")))
    assert(silent.map(x => (x._1, x._2)).toSeq ===
      Seq(("id-a", ts("2024-08-28 23:57:00"))),
      s"exactly one sensor-death alert for id-a expected, got ${silent.toSeq}")
    assert(silent.head._3 >= 60L * 60000L,
      "watermark-measured silence must be >= the horizon")
  }
}

/** A local file system whose delete of a path named
  * [[FailingDeleteFs.failName]] fails (returns false, deletes nothing). */
class FailingDeleteFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean =
    if (p.getName == FailingDeleteFs.failName) false else super.delete(p, recursive)
}

object FailingDeleteFs {
  @volatile var failName: String = _
}
