package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

/** Document record for the streaming near-dup checks (top-level so Spark
  * can derive an Encoder).
  */
case class DocRec(doc_id: Long, text: String)

/** In-run machine verdicts for the streaming surface (r12; VERDICT r11
  * item 3). The 16 streaming kernels and their MV readers were verified
  * only in ScalaTest (StreamingSpec's batch-equivalence + replay-idempotence
  * suite), so a driver that reads CORRECTNESS/BENCH artifacts never saw
  * those verdicts. These checks re-verify the same contracts inside
  * `graft.Verify` itself and land in `streaming_results.json` next to
  * `no_oracle_results.json` — the PropertyChecks treatment applied to
  * group J. Each check is the distilled core of its StreamingSpec twin
  * (which remains the richer fixture suite): real `MemoryStream` queries
  * with the default trigger + `processAllAvailable()` (AvailableNow races
  * addData-after-start), state deliberately spanning micro-batch
  * boundaries, and replay via the exposed per-batch functions.
  *
  * `kernelCoverage` names which public [[Streams]] kernels each check
  * exercises; RegistrySpec asserts the union covers EVERY public member of
  * the object, so a new kernel cannot ship invisible to the driver
  * artifact.
  */
object StreamChecks {

  /** A named check: (check key, covered Streams kernels, body). The body
    * throws [[Failed]] (or anything else) to fail; returns a pass detail.
    */
  final case class Failed(msg: String) extends Exception(msg)
  type Check = SparkSession => String

  private def ts(s: String) = Timestamp.valueOf(s)
  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def expect(cond: Boolean, msg: => String): Unit =
    if (!cond) throw Failed(msg)

  /** Memory-sink names must be unique per (possibly re-run) invocation. */
  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private def qn(base: String) = s"${base}_${runSeq.incrementAndGet()}"

  private def T(s: String, v: Double, id: String, sensor: String = "S",
      flag: Option[Byte] = None) = Telemetry(sensor, ts(s), v, flag, id)

  /** Run a streaming transform over Telemetry micro-batches into a memory
    * sink; returns the sink table.
    */
  private def stream(
      s: SparkSession, name: String, mode: String,
      batches: Seq[Seq[Telemetry]])(xform: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val mem = MemoryStream[Telemetry]
    val q = xform(mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode(mode).start()
    try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    finally q.stop()
    s.table(name)
  }

  private def sortedRows(df: DataFrame, keys: Seq[String]): Seq[String] =
    df.orderBy(keys.map(col): _*).collect().map(_.toString).toSeq

  /** The spec's shared telemetry fixture: one late row, one distinct
    * series, a 13:00 tail that advances the watermark.
    */
  private val baseRows = Seq(
    T("2024-08-28 12:00:10", 0.96, "id-a", "Sa_FanSpeed"),
    T("2024-08-28 12:01:00", 0.50, "id-a", "Sa_FanSpeed"),
    T("2024-08-28 12:06:00", 0.99, "id-a", "Sa_FanSpeed"),
    T("2024-08-28 12:02:00", 0.97, "id-b", "Oa_Temp"),
    T("2024-08-28 12:03:00", 0.98, "id-a", "Sa_FanSpeed"), // late
    T("2024-08-28 13:00:00", 0.10, "id-a", "Sa_FanSpeed"))
  private def baseBatches = Seq(baseRows.take(4), baseRows.drop(4))

  val checks: Seq[(String, Seq[String], Check)] = Seq(

    ("s_fault_counts", Seq("faultCounts"), { s =>
      import s.implicits._
      val streamed = stream(s, qn("sc_fc"), "complete", baseBatches)(
        Streams.faultCounts(_, threshold = 0.95))
      val batch = Streams.faultCounts(baseRows.toDF(), threshold = 0.95)
      val keys = Seq("timeseries_id", "window_start")
      expect(sortedRows(streamed, keys) == sortedRows(batch, keys),
        "stream != batch on identical rows")
      val w0 = streamed.filter(col("timeseries_id") === "id-a" &&
        col("window_start") === ts("2024-08-28 12:00:00")).head()
      expect(w0.getAs[Long]("n_faults") == 2L,
        s"late fault not in its window: ${w0.getAs[Long]("n_faults")}")
      "stream == batch incl. a late row counted in its event-time window"
    }),

    ("s_hopping", Seq("hoppingCounts"), { s =>
      import s.implicits._
      val streamed = stream(s, qn("sc_hop"), "complete", baseBatches)(
        Streams.hoppingCounts(_))
      val batch = Streams.hoppingCounts(baseRows.toDF())
      val keys = Seq("timeseries_id", "window_start")
      expect(sortedRows(streamed, keys) == sortedRows(batch, keys),
        "stream != batch on identical rows")
      val fan = streamed.filter(col("timeseries_id") === "id-a" &&
        col("window_start").isin(
          ts("2024-08-28 11:50:00"), ts("2024-08-28 11:55:00"),
          ts("2024-08-28 12:00:00"))).count()
      expect(fan == 3L, s"12:00:10 event in $fan hopping windows, want 3")
      "stream == batch; each event lands in its len/hop = 3 windows"
    }),

    ("s_quality_gate", Seq("qualityGate"), { s =>
      import s.implicits._
      val qrows = Seq(
        T("2024-08-28 12:00:10", 0.5, "id-a"),
        T("2024-08-28 12:01:00", 1.5, "id-a"),
        T("2024-08-28 12:02:00", Double.NaN, "id-a", flag = Some(1: Byte)),
        T("2024-08-28 12:03:00", 0.7, null, flag = Some(7: Byte)),
        T("2024-08-28 12:07:00", 0.2, "id-b", flag = Some(0: Byte)))
      val streamed = stream(s, qn("sc_qg"), "complete", Seq(qrows))(
        Streams.qualityGate(_))
      val batch = Streams.qualityGate(qrows.toDF())
      val keys = Seq("window_start", "rule_id")
      expect(sortedRows(streamed, keys) == sortedRows(batch, keys),
        "stream != batch on identical rows")
      val w0 = streamed.filter(col("window_start") === ts("2024-08-28 12:00:00"))
        .collect().map(r => r.getAs[String]("rule_id") -> r.getAs[Long]("n_violations"))
        .toMap
      expect(w0 == Map("rv_value_range" -> 2L, "rv_id_present" -> 1L,
        "rv_flag_domain" -> 1L),
        s"window-0 violation counts wrong: $w0")
      "stream == batch; range/id/flag rules each caught their violation"
    }),

    ("s_session", Seq("sessionize"), { s =>
      import s.implicits._
      val streamed = stream(s, qn("sc_sess"), "complete", baseBatches)(
        Streams.sessionize(_))
      val batch = Streams.sessionize(baseRows.toDF())
      val keys = Seq("timeseries_id", "session_start")
      expect(sortedRows(streamed, keys) == sortedRows(batch, keys),
        "stream != batch on identical rows")
      expect(streamed.filter(col("timeseries_id") === "id-a").count() == 2L,
        "a >30-min gap must split id-a into 2 sessions")
      "stream == batch; gap-based session split matches"
    }),

    ("s_dedup_exact", Seq("dedupExact"), { s =>
      val r1 = T("2024-08-28 12:00:10", 0.96, "id-a", "Sa_FanSpeed")
      val r2 = T("2024-08-28 12:01:00", 0.50, "id-a", "Sa_FanSpeed")
      val r3 = r2.copy(timestamp = ts("2024-08-28 12:08:00"))
      // dup inside one micro-batch, redelivery across batches, new content
      val out = stream(s, qn("sc_dx"), "append",
        Seq(Seq(r1, r2, r1), Seq(r1), Seq(r3)))(Streams.dedupExact(_))
      expect(out.count() == 3L,
        s"${out.count()} rows out for 3 distinct contents (5 deliveries)")
      "in-batch dup + cross-batch redelivery dropped; distinct rows kept"
    }),

    ("s_interval_join", Seq("intervalJoin"), { s =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val lMem = MemoryStream[Telemetry]
      val rMem = MemoryStream[Telemetry]
      val name = qn("sc_ij")
      val q = Streams.intervalJoin(lMem.toDF(), rMem.toDF())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val lRows = Seq(
        T("2024-08-28 12:00:00", 1.0, "id-a", "cmd"),
        T("2024-08-28 12:20:00", 2.0, "id-a", "cmd"))
      val rRows = Seq(
        T("2024-08-28 12:05:00", 10.0, "id-a", "rsp"),
        T("2024-08-28 12:15:00", 20.0, "id-a", "rsp"),
        T("2024-08-28 12:25:00", 30.0, "id-a", "rsp"),
        T("2024-08-28 12:05:00", 40.0, "id-b", "rsp"))
      val lTail = T("2024-08-28 14:00:00", 0.0, "id-z", "cmd")
      val rTail = T("2024-08-28 14:00:00", 0.0, "id-z", "rsp")
      try {
        lMem.addData(lRows); rMem.addData(rRows); q.processAllAvailable()
        lMem.addData(Seq(lTail)); rMem.addData(Seq(rTail)); q.processAllAvailable()
      } finally q.stop()
      def keyed(df: DataFrame) = df.select("timeseries_id", "l_value", "r_value")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
      val got = keyed(s.table(name))
      val want = keyed(Streams.intervalJoin((lRows :+ lTail).toDF(), (rRows :+ rTail).toDF()))
      expect(got == want, s"stream-stream join != batch join: $got vs $want")
      expect(got == Set(("id-a", 1.0, 10.0), ("id-a", 2.0, 30.0), ("id-z", 0.0, 0.0)),
        s"wrong match set: $got")
      "stream-stream == batch; out-of-window and wrong-series rows unmatched"
    }),

    ("s_fault_flags", Seq("faultFlags", "telemetrySchema"), { s =>
      import s.implicits._
      // stateless: the same code path serves stream and batch — drive it
      // as a stream AND compare to the batch application on the same rows
      val streamed = stream(s, qn("sc_ff"), "append", Seq(baseRows))(
        Streams.faultFlags(_, 0.95))
      val batch = Streams.faultFlags(baseRows.toDF(), 0.95)
      val k = Seq("timeseries_id", "timestamp", "value")
      expect(sortedRows(streamed, k) == sortedRows(batch, k),
        "streamed flags != batch flags")
      val want = baseRows.map(t => if (t.value > 0.95) Some(1L) else None)
      val got = batch.orderBy(lit(1)).collect()
        .map(r => Option(r.getAs[java.lang.Long]("fc1_flag")).map(_.toLong))
      expect(got.toSeq.sorted == want.sorted, "flag values wrong")
      "stateless flagging batch-identical through the stream path"
    }),

    ("s_enrich", Seq("enrich"), { s =>
      import s.implicits._
      val catalog = Seq(("id-a", "AHU-1", "Brick:Supply_Fan"))
        .toDF("timeseries_id", "equipment", "brick_class")
      val out = stream(s, qn("sc_en"), "append", Seq(baseRows.take(4)))(
        Streams.enrich(_, catalog))
      expect(out.count() == 4L, "rows lost through the broadcast enrich")
      expect(out.filter(col("timeseries_id") === "id-a").collect()
        .forall(_.getAs[String]("equipment") == "AHU-1"), "catalog attrs missing")
      val idb = out.filter(col("timeseries_id") === "id-b").collect()
      expect(idb.length == 1 && idb.head.getAs[String]("equipment") == null,
        "uncataloged row must survive with null attrs (left join)")
      "broadcast stream-static enrich attaches attrs, keeps uncataloged rows"
    }),

    ("s_rates", Seq("rates"), { s =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val mem = MemoryStream[Telemetry]
      val name = qn("sc_rt")
      val q = Streams.rates(mem.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      def t(ss: String, v: Double) = T(ss, v, "ctr-a", "Counter")
      try {
        mem.addData(Seq(t("2024-08-28 12:00:00", 1.000),
          t("2024-08-28 12:01:00", 2.500), t("2024-08-28 12:02:00", 4.000)))
        q.processAllAvailable()
        // reset SPANS the batch boundary; one across-batch late row
        mem.addData(Seq(t("2024-08-28 12:03:00", 0.500),
          t("2024-08-28 12:04:00", 1.500), t("2024-08-28 12:01:30", 9.999)))
        q.processAllAvailable()
      } finally q.stop()
      val last = s.table(name).orderBy(col("dur_us").desc).head()
      val folded = Seq(1.000, 2.500, 4.000, 0.500, 1.500)
        .map(v => math.floor(v * 1000 + 0.5).toLong)
        .sliding(2).map { case Seq(a, b) => if (b - a < 0) b else b - a }.sum
      expect(last.getAs[Long]("increase_m") == folded,
        s"increase ${last.getAs[Long]("increase_m")} != batch fold $folded")
      expect(last.getAs[Long]("n_resets") == 1L, "cross-batch reset missed")
      expect(last.getAs[Long]("n_late_dropped") == 1L, "across-batch late row not counted")
      expect(last.getAs[Double]("rate_per_s") == (folded / 1000.0) / 240.0,
        "rate expression diverged from the batch kernel's IEEE form")
      "cross-batch counter reset detected; snapshot == batch kernel fold"
    }),

    ("s_ewma", Seq("ewma"), { s =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val mem = MemoryStream[Telemetry]
      val name = qn("sc_ew")
      val q = Streams.ewma(mem.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      def t(ss: String, v: Double) = T(ss, v, "ewma-a", "Sensor")
      try {
        mem.addData(Seq(t("2024-08-28 12:00:00", 1.0),
          t("2024-08-28 12:01:00", 2.0), t("2024-08-28 12:02:00", 4.0)))
        q.processAllAvailable()
        mem.addData(Seq(t("2024-08-28 12:03:00", 8.0),
          t("2024-08-28 12:04:00", 0.5), t("2024-08-28 12:01:30", 99.9)))
        q.processAllAvailable()
      } finally q.stop()
      val last = s.table(name).orderBy(col("n").desc).head()
      val folded = Seq(2.0, 4.0, 8.0, 0.5).foldLeft(1.0)((e, v) => 0.25 * v + 0.75 * e)
      expect(last.getAs[Long]("n") == 5L, "row count wrong")
      expect(last.getAs[Double]("ewma") == math.floor(folded * 1e6 + 0.5) / 1e6,
        "fold across the batch boundary diverged from the batch kernel")
      expect(last.getAs[Long]("n_late_dropped") == 1L, "late row not counted")
      "fold continues from carried state across batches; == batch kernel"
    }),

    ("s_fault_runs", Seq("faultRuns"), { s =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val mem = MemoryStream[Telemetry]
      val name = qn("sc_fr")
      val q = Streams.faultRuns(mem.toDS(), threshold = 0.95)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      def t(ss: String, v: Double, id: String = "id-a") = T(ss, v, id, "Sa_FanSpeed")
      try {
        mem.addData(Seq(t("2024-08-28 12:00:00", 0.97),
          t("2024-08-28 12:01:00", 0.98), t("2024-08-28 12:00:30", 0.10, "id-b")))
        q.processAllAvailable()
        expect(s.table(name).count() == 0L, "run=2 must stay silent below minRun")
        mem.addData(Seq(t("2024-08-28 12:02:00", 0.99), t("2024-08-28 12:03:00", 0.10),
          t("2024-08-28 12:04:00", 0.97), t("2024-08-28 12:05:00", 0.98)))
        q.processAllAvailable()
      } finally q.stop()
      val out = s.table(name).collect()
        .map(r => (r.getAs[String]("timeseries_id"), r.getAs[Int]("run_length"))).toSeq
      expect(out == Seq(("id-a", 3)),
        s"want one alert (id-a, 3) from state carried across batches, got $out")
      "run-length state spans micro-batches; exactly one alert at minRun"
    }),

    ("s_silent_series", Seq("silentSeries"), { s =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val mem = MemoryStream[Telemetry]
      val name = qn("sc_ss")
      val q = Streams.silentSeries(mem.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        mem.addData(Seq(T("2024-08-28 12:00:00", 1.0, "id-quiet"),
          T("2024-08-28 12:00:00", 1.0, "id-live")))
        q.processAllAvailable()
        mem.addData(Seq(T("2024-08-28 13:00:00", 1.0, "id-live")))
        q.processAllAvailable()
        // another live batch lets the elapsed event-time timeout fire
        mem.addData(Seq(T("2024-08-28 13:01:00", 1.0, "id-live")))
        q.processAllAvailable()
      } finally q.stop()
      val out = s.table(name).collect()
      expect(out.length == 1, s"want exactly one alert, got ${out.length}")
      expect(out.head.getAs[String]("timeseries_id") == "id-quiet", "wrong series alerted")
      expect(out.head.getAs[Long]("silent_for_ms") >= 30L * 60000L,
        "watermark-measured silence below the horizon")
      "one alert for the quiet series once the watermark passes its horizon"
    }),

    ("s_upsert", Seq("upsertSink", "upsertBatch"), { s =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val out = tmp("graft_sc_upsert")
      val ckpt = tmp("graft_sc_upsert_ckpt")
      val mem = MemoryStream[Telemetry]
      val q = Streams.upsertSink(mem.toDF(), out, ckpt, Trigger.ProcessingTime("0 seconds")).start()
      val b1 = Seq(T("2024-08-28 12:00:00", 1.0, "id-a"),
        T("2024-08-28 12:01:00", 2.0, "id-a"), T("2024-08-29 09:00:00", 5.0, "id-b"))
      // the same correction delivered twice with conflicting values:
      // the deterministic tie-break keeps 9.0 and REPLACES the stored row
      val b2 = Seq(T("2024-08-28 12:01:00", 9.0, "id-a"),
        T("2024-08-28 12:01:00", 7.0, "id-a"))
      try {
        mem.addData(b1); q.processAllAvailable()
        mem.addData(b2); q.processAllAvailable()
      } finally q.stop()
      def snap() = s.read.parquet(out).select("timeseries_id", "timestamp", "value")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet
      val after = snap()
      expect(after == Set(
        ("id-a", ts("2024-08-28 12:00:00"), 1.0),
        ("id-a", ts("2024-08-28 12:01:00"), 9.0),
        ("id-b", ts("2024-08-29 09:00:00"), 5.0)), s"upsert state wrong: $after")
      Streams.upsertBatch(b2.toDF(), out) // at-least-once redelivery
      expect(snap() == after, "replaying a batch must be a no-op")
      "update replaced the stored row (greatest-tuple tie-break); replay no-op"
    }),

    ("s_upsert_delta",
      Seq("upsertDeltaSink", "upsertDeltaBatch", "compactUpsertDeltas",
        "upsertRead"), { s =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val out = tmp("graft_sc_updelta")
      val ckpt = tmp("graft_sc_updelta_ckpt")
      val mem = MemoryStream[Telemetry]
      // compactEvery=2: batch 0 stays a pending delta, batch 1 triggers
      // the fold, batch 2 is pending again — all three read states hit
      val q = Streams.upsertDeltaSink(mem.toDF(), out, ckpt,
        Trigger.ProcessingTime("0 seconds"), compactEvery = 2).start()
      val b1 = Seq(T("2024-08-28 12:00:00", 1.0, "id-a"),
        T("2024-08-28 12:01:00", 2.0, "id-a"), T("2024-08-29 09:00:00", 5.0, "id-b"))
      // the same correction delivered twice with conflicting values: the
      // greatest-tuple tie-break keeps 9.0 (the s_upsert fixture)
      val b2 = Seq(T("2024-08-28 12:01:00", 9.0, "id-a"),
        T("2024-08-28 12:01:00", 7.0, "id-a"))
      // a LATER batch must beat an earlier one on the same key even with a
      // SMALLER tuple (later-batch-wins = serial direct-merge order)
      val b3 = Seq(T("2024-08-28 12:01:00", 3.0, "id-a"))
      try {
        Seq(b1, b2, b3).foreach { b => mem.addData(b); q.processAllAvailable() }
      } finally q.stop()
      def snap(df: org.apache.spark.sql.DataFrame) =
        df.select("timeseries_id", "timestamp", "value")
          .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet
      val expected = Set(
        ("id-a", ts("2024-08-28 12:00:00"), 1.0),
        ("id-a", ts("2024-08-28 12:01:00"), 3.0),
        ("id-b", ts("2024-08-29 09:00:00"), 5.0))
      val view = snap(Streams.upsertRead(s, out))
      expect(view == expected, s"merge-on-read view wrong: $view")
      // b3 is still a pending delta: the compacted table must show the
      // PRE-b3 value (plain readers see only folded data)...
      val folded = snap(s.read.parquet(out))
      expect(folded == Set(
        ("id-a", ts("2024-08-28 12:00:00"), 1.0),
        ("id-a", ts("2024-08-28 12:01:00"), 9.0),
        ("id-b", ts("2024-08-29 09:00:00"), 5.0)),
        s"compacted table wrong (b3 must still be pending): $folded")
      // ...at-least-once replay of the pending batch is a no-op...
      Streams.upsertDeltaBatch(b3.toDF(), out, batchId = 2, compactEvery = 99)
      expect(snap(Streams.upsertRead(s, out)) == expected,
        "replaying a pending delta batch must be a no-op")
      // ...and after the final fold the store is byte-equal to what the
      // DIRECT tier produces from the same batches
      Streams.compactUpsertDeltas(s, out)
      expect(snap(s.read.parquet(out)) == expected,
        "compacted store != merge-on-read view after final fold")
      val direct = tmp("graft_sc_updelta_direct")
      Seq(b1, b2, b3).foreach(b => Streams.upsertBatch(b.toDF(), direct))
      expect(snap(s.read.parquet(direct)) == expected,
        "direct-tier store diverged from the delta-tier result")
      "O(batch) delta landing; later-batch-wins fold == direct tier; replay no-op"
    }),

    ("s_count_mv", Seq("countMvSink", "countMvBatch", "mvMixDrift"), { s =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val mv = tmp("graft_sc_cntmv")
      val ckpt = tmp("graft_sc_cntmv_ckpt")
      val mem = MemoryStream[Telemetry]
      val q = Streams.countMvSink(mem.toDF(), mv, ckpt, Trigger.ProcessingTime("0 seconds")).start()
      val b0 = Seq(T("2024-08-25 10:00:00", 1.0, "id-a"), T("2024-08-25 11:00:00", 1.0, "id-a"),
        T("2024-08-26 10:00:00", 1.0, "id-a"), T("2024-08-25 10:00:00", 1.0, "id-b"))
      val b1 = Seq(T("2024-08-27 10:00:00", 1.0, "id-a"), T("2024-08-27 10:00:00", 1.0, "id-b"),
        T("2024-08-28 10:00:00", 1.0, "id-b"), T("2024-08-28 11:00:00", 1.0, "id-b"))
      try {
        mem.addData(b0); q.processAllAvailable()
        mem.addData(b1); q.processAllAvailable()
      } finally q.stop()
      val merged = s.read.parquet(mv)
        .groupBy(col("timeseries_id"), col("day")).agg(sum("n").as("n")).collect()
        .map(r => (r.getString(0), r.getAs[java.sql.Date]("day").toString) -> r.getAs[Long]("n"))
        .toMap
      val direct = (b0 ++ b1).groupBy(r => (r.timeseries_id, r.timestamp.toString.take(10)))
        .map { case (k, rs) => k -> rs.length.toLong }
      expect(merged == direct, s"MV partials != direct batch counts: $merged vs $direct")
      def drift() = Streams.mvMixDrift(s, mv).collect()
        .map(r => r.getAs[String]("timeseries_id") ->
          ((r.getAs[Long]("n_old"), r.getAs[Long]("n_new"), r.getAs[Long]("drift_num"),
            r.getAs[Long]("drift_den")))).toMap
      val d1 = drift()
      expect(d1 == Map("id-a" -> ((3L, 1L, 8L, 32L)), "id-b" -> ((1L, 3L, 8L, 32L))),
        s"drift integers wrong: $d1")
      Streams.countMvBatch(b1.toDF(), mv, batchId = 1L) // replay
      expect(drift() == d1, "replaying a count partial changed the MV")
      "MV == direct counts; integer drift exact; replay idempotent"
    }),

    ("s_cm_mv", Seq("cmMvSink", "cmMvBatch", "cmEstimate"), { s =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val mv = tmp("graft_sc_cmmv")
      val ckpt = tmp("graft_sc_cmmv_ckpt")
      val mem = MemoryStream[Telemetry]
      val q = Streams.cmMvSink(mem.toDF(), mv, ckpt, Trigger.ProcessingTime("0 seconds")).start()
      val b0 = Seq(T("2024-08-25 10:00:00", 1.0, "id-a"), T("2024-08-25 11:00:00", 1.0, "id-a"),
        T("2024-08-25 10:00:00", 1.0, "id-b"))
      val b1 = Seq(T("2024-08-26 10:00:00", 1.0, "id-a"), T("2024-08-26 10:00:00", 1.0, "id-c"),
        T("2024-08-26 11:00:00", 1.0, "id-c"), T("2024-08-26 12:00:00", 1.0, "id-c"))
      try {
        mem.addData(b0); q.processAllAvailable()
        mem.addData(b1); q.processAllAvailable()
      } finally q.stop()
      def ests(a: String, b: String) = Streams
        .cmEstimate(s, mv, Seq("id-a", "id-b", "id-c", "id-ghost"), a, b)
        .collect().map(r => r.getString(0) -> r.getAs[Long]("est")).toMap
      val full = ests("2024-08-25", "2024-08-26")
      expect(full == Map("id-a" -> 3L, "id-b" -> 1L, "id-c" -> 3L, "id-ghost" -> 0L),
        s"CM estimates != exact counts: $full")
      expect(ests("2024-08-25", "2024-08-25") ==
        Map("id-a" -> 2L, "id-b" -> 1L, "id-c" -> 0L, "id-ghost" -> 0L),
        "day-range pruning leaked")
      Streams.cmMvBatch(b1.toDF(), mv, batchId = 1L) // replay
      expect(ests("2024-08-25", "2024-08-26") == full, "replay changed the cells")
      "CM estimates exact (collision-free fixture); range prunes; replay idempotent"
    }),

    ("s_hh_mv", Seq("hhMvSink", "hhMvBatch", "mvHeavyHitters"), { s =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val mv = tmp("graft_sc_hhmv")
      val ckpt = tmp("graft_sc_hhmv_ckpt")
      val mem = MemoryStream[Telemetry]
      val q = Streams.hhMvSink(mem.toDF(), mv, ckpt, Trigger.ProcessingTime("0 seconds")).start()
      val b0 = Seq(T("2024-08-25 10:00:00", 1.0, "id-hot"), T("2024-08-25 11:00:00", 1.0, "id-hot"),
        T("2024-08-25 12:00:00", 1.0, "id-warm"), T("2024-08-26 10:00:00", 1.0, "id-hot"))
      val b1 = Seq(T("2024-08-26 11:00:00", 1.0, "id-hot"), T("2024-08-26 12:00:00", 1.0, "id-warm"),
        T("2024-08-26 13:00:00", 1.0, "id-cold"))
      try {
        mem.addData(b0); q.processAllAvailable()
        mem.addData(b1); q.processAllAvailable()
      } finally q.stop()
      def hh() = Streams.mvHeavyHitters(s, mv, "2024-08-25", "2024-08-26")
        .collect().map(r => r.getString(0) -> r.getAs[Long]("est")).toMap
      val got = hh()
      expect(got == Map("id-hot" -> 4L, "id-warm" -> 2L, "id-cold" -> 1L),
        s"merged MG partials != exact counts in the exact regime: $got")
      Streams.hhMvBatch(b1.toDF(), mv, batchId = 1L) // replay
      expect(hh() == got, "replay changed the merged summary")
      "MG partials merge to exact counts (k >= distinct); replay idempotent"
    }),

    ("s_sketch_mv", Seq("sketchMvSink", "sketchMvBatch", "mvQuantiles"), { s =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val mv = tmp("graft_sc_kll")
      val ckpt = tmp("graft_sc_kll_ckpt")
      val mem = MemoryStream[Telemetry]
      val q = Streams.sketchMvSink(mem.toDF(), mv, ckpt,
        trigger = Trigger.ProcessingTime("0 seconds")).start()
      val b1 = (1 to 5).map(i => T(s"2024-08-28 12:0$i:00", i.toDouble, "id-a")) :+
        T("2024-08-28 13:00:00", 10.0, "id-b")
      val b2 = (6 to 10).map(i => T(s"2024-08-28 14:0${i - 6}:00", i.toDouble, "id-a")) ++
        Seq(T("2024-08-29 09:00:00", 100.0, "id-a"), T("2024-08-29 09:01:00", 102.0, "id-a"))
      try {
        mem.addData(b1); q.processAllAvailable()
        mem.addData(b2); q.processAllAvailable()
      } finally q.stop()
      def snap() = Streams.mvQuantiles(s, mv, "2024-08-28", "2024-08-29")
        .collect().map(r => r.getString(0) -> ((r.getAs[Long]("n"), r.getAs[Double]("p50"))))
        .toMap
      val got = snap()
      val direct = (b1 ++ b2).toDF()
        .groupBy("timeseries_id")
        .agg(kll_sketch_agg_double(col("value"), graft.U.KllK).as("sk"))
        .select(col("timeseries_id"), kll_sketch_get_n_double(col("sk")).as("n"),
          kll_sketch_get_quantile_double(col("sk"), lit(0.5)).as("p50"))
        .collect().map(r => r.getString(0) -> ((r.getAs[Long]("n"), r.getAs[Double]("p50"))))
        .toMap
      expect(got == direct, s"stream MV != direct sketch: $got vs $direct")
      Streams.sketchMvBatch(b1.toDF(), mv, batchId = 0) // replay
      expect(snap() == got, "replay double-weighted the sketch")
      "stream KLL MV == direct batch sketch; replay replaces, never re-merges"
    }),

    ("s_minhash_dedup",
      Seq("minhashDedupSink", "minhashDedupBatch", "dedupSurvivors", "dedupDecisions"), { s =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val store = tmp("graft_sc_mhd")
      val ckpt = tmp("graft_sc_mhd_ckpt")
      val base = (0 until 40).map(i => s"w$i").mkString(" ")
      def mut(last: String) = (0 until 39).map(i => s"w$i").mkString(" ") + " " + last
      val novel = (0 until 40).map(i => s"u$i").mkString(" ")
      val mem = MemoryStream[DocRec]
      val q = Streams.minhashDedupSink(mem.toDF(), store, ckpt,
        Trigger.ProcessingTime("0 seconds")).start()
      val b0 = Seq(DocRec(1L, base), DocRec(2L, mut("x2")))
      val b1 = Seq(DocRec(3L, mut("x3")), DocRec(4L, novel), DocRec(5L, "tiny doc"))
      try {
        mem.addData(b0); q.processAllAvailable()
        mem.addData(b1); q.processAllAvailable()
      } finally q.stop()
      def state() = (
        Streams.dedupDecisions(s, store).collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of"),
            r.getAs[Long]("batch_id"))).toSet,
        Streams.dedupSurvivors(s, store).collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("batch_id")).toMap)
      val (dec, sur) = state()
      expect(dec == Set((2L, 1L, 0L), (3L, 1L, 1L)),
        s"intra-batch (2->1) and cross-batch (3->1) drops expected, got $dec")
      expect(sur == Map(1L -> 0L, 4L -> 1L, 5L -> 1L),
        s"survivors (novel + too-short kept) wrong: $sur")
      Streams.minhashDedupBatch(b1.toDF(), store, batchId = 1L) // replay
      expect(state() == ((dec, sur)), "replay re-matched against its own attempt")
      "near-dups drop intra- and cross-batch; survivors index; replay idempotent"
    }),

    ("s_ingest_files", Seq("ingestFiles"), { s =>
      val in = tmp("graft_sc_in")
      val out = tmp("graft_sc_out")
      val ckpt = tmp("graft_sc_ckpt")
      val json = baseRows.map(t =>
        s"""{"sensor_name":"${t.sensor_name}","timestamp":"${t.timestamp}","value":${t.value},"timeseries_id":"${t.timeseries_id}"}""")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(in, "batch1.json"), json.mkString("\n").getBytes)
      val q = Streams.ingestFiles(s, in, out, ckpt, Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      // restart on the same checkpoint: no new files -> no duplicates
      val q2 = Streams.ingestFiles(s, in, out, ckpt, Trigger.AvailableNow()).start()
      q2.processAllAvailable(); q2.stop()
      val back = s.read.parquet(out)
      expect(back.count() == baseRows.length.toLong,
        s"${back.count()} rows after a checkpoint restart, want ${baseRows.length}")
      expect(back.columns.contains("event_date"), "day partition column missing")
      "JSON-lines land day-partitioned exactly once across a restart"
    })
  )

  /** Every public [[Streams]] kernel some check claims to exercise. */
  def coveredKernels: Set[String] = checks.flatMap(_._2).toSet

  /** Run every check; (check key, covered kernels, verdict). */
  def runAll(s: SparkSession): Seq[(String, Seq[String], Either[String, String])] =
    checks.map { case (name, covers, f) =>
      val r =
        try Right(f(s))
        catch {
          case Failed(m) => Left(m)
          case e: Exception =>
            Left(s"check crashed: ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" | "))
        }
      (name, covers, r)
    }
}
