package graft.layerbench

import java.sql.Timestamp

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, floor, lit, to_date, unix_micros}
import org.apache.spark.sql.types._

import graft.faults.FaultRules
import graft.streaming.Streams

/** The reference's read/write surface over one day-partitioned delta-tier
  * store (`Streams.upsertDeltaBatch` / `upsertRead` /
  * `compactUpsertDeltas`), closed loop, one client.
  *
  * Operations come in decks of 20 at fixed positions (`Deck`), their
  * parameters drawn from the seed: 16 range reads
  * (one series over 1-7 days, `Layout.rangeQuery`'s predicate over the
  * merge-on-read view), 3 ingests (500 rows of corrections and new
  * readings, landed as one delta) and 1 fault sweep (one day through
  * `FaultRules.thresholdFlag(value, 250.0)`, flagged rows landed back as
  * point updates: `main.rs:384-406`). Landings go through
  * `upsertDeltaBatch` with the sink's default cadence, so the engine itself
  * compacts when enough deltas are pending; a landing after which no delta
  * is pending is counted as a compaction (landing plus fold). An untimed
  * warm-up runs one operation of each kind, a compaction and five more
  * landings; timed decks then repeat until the run's seconds are used (at
  * least one), and with the default cadence of 8 deck 1 holds exactly one
  * compaction.
  *
  * Output check: an in-memory answer model maps (timeseries_id,
  * timestamp) to the last landed row. Every read and every sweep's day is
  * compared with it, and after a final compaction the whole store read
  * through `upsertRead` must equal it.
  */
final class TelemetryWorkload(
    spark: SparkSession,
    src: String,
    tracer: Tracer,
    counters: Option[SparkCounters]) {
  import TelemetryWorkload._

  // answer model: series -> (ts micros -> row)
  private val model = mutable.HashMap.empty[String, java.util.TreeMap[java.lang.Long, Rec]]
  private val keys = ArrayBuffer.empty[(String, Long)]
  private val recent = ArrayBuffer.empty[(String, Long)]
  private var series: IndexedSeq[String] = IndexedSeq.empty
  private var root = ""
  private var nextBatch = 1L
  private val schema = StructType(Seq(
    StructField("sensor_name", StringType),
    StructField("timestamp", TimestampType),
    StructField("value", DoubleType),
    StructField("fc1_flag", ByteType),
    StructField("timeseries_id", StringType)))

  private def put(sid: String, ts: Long, r: Rec): Unit = {
    val m = model.getOrElseUpdate(sid, new java.util.TreeMap[java.lang.Long, Rec]())
    if (m.put(ts, r) == null) {
      keys += (sid -> ts)
      if (ts >= Start + (Days - RecentDays) * DayUs) recent += (sid -> ts)
    }
  }

  /** The source events in the Telemetry schema. */
  private def source: DataFrame = graft.U.events(spark, src).select(
    col("event_type").as("sensor_name"),
    col("ts").as("timestamp"),
    col("value"),
    lit(null).cast(ByteType).as("fc1_flag"),
    SeriesId(col("user_id")).as("timeseries_id"))

  /** Loads the answer model from the source events; not part of setup. */
  def loadModel(): Unit = {
    model.clear()
    keys.clear()
    recent.clear()
    source.collect().foreach { r =>
      put(r.getString(4), micros(r.getTimestamp(1)), Rec(r.getString(0), r.getDouble(2), None))
    }
    series = model.keys.toIndexedSeq.sorted
  }

  /** Lands the source events into a fresh store under `dir` the way the
    * sink does: in time order, as [[SetupBatches]] landings of
    * `Streams.upsertDeltaBatch` at its default cadence. Fewer landings than
    * the cadence leave them pending; the first fold into the 30 day
    * partitions runs once per run, in the warm-up (see [[run]]), because
    * folding in every set-up took 10-18 s apiece on 4
    * cores. If the engine's cadence ever compacts here, setup pays for it.
    */
  def setup(dir: String): Unit = {
    val store = s"$dir/store"
    val part = floor((unix_micros(col("timestamp")) - lit(Start)) * SetupBatches / (Days * DayUs))
    val events = source.withColumn("_b", part)
    (0 until SetupBatches).foreach { b =>
      Streams.upsertDeltaBatch(events.filter(col("_b") === b).drop("_b"), store, b + 1L)
    }
    root = store
    nextBatch = SetupBatches + 1L
  }

  private val Cols = Seq("timeseries_id", "timestamp", "sensor_name", "value", "fc1_flag")

  /** A row whose first five columns are [[Cols]], as a model entry. */
  private def entry(r: Row): (String, Long, Rec) =
    (r.getString(0), micros(r.getTimestamp(1)),
      Rec(r.getString(2), r.getDouble(3), if (r.isNullAt(4)) None else Some(r.getByte(4))))

  private def rowsOf(df: DataFrame): Seq[(String, Long, Rec)] =
    df.select(Cols.map(col): _*).collect().toSeq.map(entry)

  private def modelRange(sid: String, from: Long, to: Long): Seq[(String, Long, Rec)] =
    model.get(sid).toSeq.flatMap(_.subMap(from, true, to, true).asScala.toSeq.map {
      case (ts, r) => (sid, ts.longValue, r)
    })

  private def same(got: Seq[(String, Long, Rec)], want: Seq[(String, Long, Rec)]): Boolean =
    got.sortBy(x => (x._1, x._2)) == want.sortBy(x => (x._1, x._2))

  def run(seed: Long, seconds: Int): Outcome = {
    val sc = spark.sparkContext
    def snap(): Counters = counters.map(_.snapshot(sc)).getOrElse(Counters.zero)
    val failures = ArrayBuffer.empty[String]
    val runs = ArrayBuffer.empty[OpRun]
    val deckWalls = ArrayBuffer.empty[Double]
    val deckWork = ArrayBuffer.empty[Counters]
    var attempted = 0L
    // operations of the warm-up and timed deck 1, a fixed prefix
    val stream = new OpStream
    def note(deck: Int, op: => String): Unit = if (deck <= 1) stream.add(s"$deck $op")
    // write amplification: every byte the engine writes (landings and
    // compactions) over the logical bytes of the rows submitted
    var submittedBytes = 0L
    var writtenBytes = 0L

    /** Lands `rows` at the sink's default cadence. A landing after which
      * no delta is pending has compacted; the day partitions whose files
      * changed during it are the partitions it rewrote. */
    def land(rows: Seq[Row], deck: Int): Unit = {
      val df = spark.createDataFrame(rows.asJava, schema)
      val before = partitionFiles(root)
      val c0 = snap()
      val (_, ns) = tracer.span("Streams.upsertDeltaBatch")(Streams.upsertDeltaBatch(df, root, nextBatch))
      val w = snap() - c0
      writtenBytes += w.output
      submittedBytes += rows.map(rowBytes).sum
      nextBatch += 1
      rows.foreach { r =>
        put(r.getString(4), micros(r.getTimestamp(1)),
          Rec(r.getString(0), r.getDouble(2), Option(r.get(3)).map(_.asInstanceOf[Byte])))
      }
      if (pendingDeltas(root) == 0) {
        val after = partitionFiles(root)
        val rewritten = (before.keySet ++ after.keySet).count(d => before.get(d) != after.get(d))
        runs += OpRun(deck, "compact", ns, Map.empty, w, rows.size.toLong, Map("partitions" -> rewritten.toDouble))
      } else runs += OpRun(deck, "land", ns, Map.empty, w, rows.size.toLong, Map.empty)
    }

    def read(deck: Int, rnd: scala.util.Random): Unit = {
      val sid = series(rnd.nextInt(series.size))
      val days = 1 + rnd.nextInt(7)
      val day0 = rnd.nextInt(Days - days + 1)
      val from = Start + day0 * DayUs
      val to = from + days * DayUs - 1
      note(deck, s"read $sid $from $to")
      val pendingNow = pendingDeltas(root)
      val c0 = snap()
      val ((got, buildNs, execNs), wallNs) = tracer.op("range_read") {
        val (view, b) = tracer.span("Streams.upsertRead")(Streams.upsertRead(spark, root))
        val (rows, e) = tracer.span("exec") {
          val (f, t) = (lit(stamp(from)), lit(stamp(to)))
          rowsOf(view.filter(
            col("event_date").between(to_date(f), to_date(t)) &&
              col("timeseries_id") === sid &&
              col("timestamp").between(f.cast("timestamp"), t.cast("timestamp"))))
        }
        (rows, b, e)
      }
      val c1 = snap()
      if (!same(got, modelRange(sid, from, to)))
        failures += s"deck $deck read $sid [$from, $to]: ${got.size} rows, model has ${modelRange(sid, from, to).size}"
      runs += OpRun(deck, "read", wallNs, Map("build" -> buildNs, "exec" -> execNs), c1 - c0,
        got.size.toLong, Map("pending" -> pendingNow.toDouble))
    }

    def ingest(deck: Int, rnd: scala.util.Random): Unit = {
      val batch = mutable.LinkedHashMap.empty[(String, Long), Row]
      while (batch.size < IngestRows) {
        // half corrections of readings from the last RecentDays days,
        // half new readings on the newest day
        val (sid, ts) =
          if (rnd.nextBoolean()) recent(rnd.nextInt(recent.size))
          else (series(rnd.nextInt(series.size)), Start + ((Days - 1 + rnd.nextDouble()) * DayUs).toLong)
        val v = math.round(-math.log(1.0 - rnd.nextDouble()) * 5000.0) / 100.0
        batch((sid, ts)) = Row(Sensors(rnd.nextInt(Sensors.size)), stamp(ts), v, null, sid)
      }
      note(deck, "ingest " + batch.keys.map { case (k, t) => s"$k@$t" }.mkString(","))
      val (_, ns) = tracer.op("ingest")(land(batch.values.toSeq, deck))
      runs += OpRun(deck, "ingest", ns, Map.empty, Counters.zero, IngestRows.toLong, Map.empty)
    }

    def sweep(deck: Int, rnd: scala.util.Random): Unit = {
      val day = Days - RecentDays + rnd.nextInt(RecentDays)
      val from = Start + day * DayUs
      val to = from + DayUs - 1
      note(deck, s"sweep $day")
      val ((scanned, flagged), ns) = tracer.op("fault_sweep") {
        val (rows, _) = tracer.span("read_day") {
          Streams.upsertRead(spark, root)
            .filter(col("event_date") === to_date(lit(stamp(from))))
            .withColumn("flag", FaultRules.thresholdFlag(col("value"), Threshold))
            .select((Cols :+ "flag").map(col): _*)
            .collect().toSeq
        }
        val hits = rows.filter(r => !r.isNullAt(5) && r.getLong(5) == 1L)
        val want = series.flatMap(modelRange(_, from, to))
        if (!same(rows.map(entry), want))
          failures += s"deck $deck sweep day $day: ${rows.size} rows, model has ${want.size}"
        if (hits.size != want.count(_._3.value > Threshold))
          failures += s"deck $deck sweep day $day: ${hits.size} flagged, model has ${want.count(_._3.value > Threshold)}"
        if (hits.nonEmpty)
          land(hits.map(r => Row(r.getString(2), r.getTimestamp(1), r.getDouble(3), 1.toByte, r.getString(0))), deck)
        (rows.size, hits.size)
      }
      runs += OpRun(deck, "sweep", ns, Map.empty, Counters.zero, scanned.toLong,
        Map("scanned" -> scanned.toDouble, "flagged" -> flagged.toDouble))
    }

    def runDeck(deck: Int, ops: Seq[String], rnd: scala.util.Random): Unit = {
      if (deck == 1) counters.foreach(_.resetPeak())
      val c0 = snap()
      val t0 = System.nanoTime()
      ops.foreach { kind =>
        attempted += 1
        try {
          kind match {
            case "read" => read(deck, rnd)
            case "ingest" => ingest(deck, rnd)
            case "sweep" => sweep(deck, rnd)
          }
        } catch {
          case NonFatal(e) => failures += s"deck $deck $kind: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"
        }
      }
      if (deck > 0) {
        deckWalls += (System.nanoTime() - t0) / 1e9
        deckWork += snap() - c0
      }
    }

    // Untimed warm-up: one operation of each kind over the landed setup
    // deltas, then a compaction, which folds the whole store into its day
    // partitions, then five landings, so with the default cadence of 8 the
    // third ingest of timed deck 1 is the 8th pending delta and its
    // compaction splits the deck's reads between a deep delta backlog and
    // a freshly compacted store.
    val warm = new scala.util.Random(seed)
    runDeck(0, Seq("read", "ingest", "sweep"), warm)
    val fold0 = System.nanoTime()
    Streams.compactUpsertDeltas(spark, root)
    val firstFoldS = (System.nanoTime() - fold0) / 1e9
    runDeck(0, Seq.fill(5)("ingest"), warm)
    val cpu0 = Host.processCpuNs()
    val start = System.nanoTime()
    var deck = 0
    while (deck < 1 || System.nanoTime() - start < seconds * 1000000000L) {
      deck += 1
      runDeck(deck, Deck, new scala.util.Random(seed * 1000003L + deck))
    }
    val windowS = (System.nanoTime() - start) / 1e9
    val cpuMs = (Host.processCpuNs() - cpu0) / 1e6

    // final check: compact everything, then the whole store equals the model
    attempted += 1
    val spaceAmp = try {
      val before = storeBytes(root)
      Streams.compactUpsertDeltas(spark, root)
      val after = storeBytes(root)
      val all = rowsOf(Streams.upsertRead(spark, root))
      val want = model.toSeq.flatMap { case (sid, m) => m.asScala.toSeq.map { case (ts, r) => (sid, ts.longValue, r) } }
      if (all.size != want.size || !same(all, want))
        failures += s"final store: ${all.size} rows, model has ${want.size}"
      before.toDouble / after
    } catch {
      case NonFatal(e) => failures += s"final store: ${e.getClass.getSimpleName}: ${e.getMessage}"; Double.NaN
    }

    val timed = runs.filter(_.deck > 0)
    def ms(kind: String): Seq[Double] = timed.filter(_.kind == kind).map(_.wallNs / 1e6).toSeq
    val kinds = Seq("read", "ingest", "sweep")
    val nOps = timed.count(r => kinds.contains(r.kind))
    val readMs = ms("read")
    val endToEnd = ListMap(
      "pass_s" -> (Stats.median(deckWalls.toSeq), "s"),
      // a deck holds 1-3 samples of the rarer kinds, too few for a median
      // per kind, so the geometric mean runs over every timed operation
      "key_geomean_ms" -> (Stats.geomean(kinds.flatMap(ms)), "ms"),
      "op_ms_p50" -> (Stats.median(readMs), "ms"),
      "ops_per_s" -> (nOps / windowS, "1/s"),
      "cpu_ms_per_op" -> (cpuMs / nOps, "ms"))

    // counts over timed deck 1, a fixed prefix that repeats per seed
    val prefix = timed.filter(r => r.deck == 1)
    def work(kind: String) = prefix.filter(_.kind == kind).map(_.work).foldLeft(Counters.zero)(_ + _)
    def per(kind: String, f: Counters => Long): Double = {
      val n = prefix.count(_.kind == kind)
      if (n == 0) 0.0 else f(work(kind)).toDouble / n
    }
    val reads = timed.filter(_.kind == "read")
    val prefixWork = deckWork.head
    val landRows = timed.filter(r => r.kind == "land" || r.kind == "compact").map(_.rows).sum
    val landS = (timed.filter(r => r.kind == "land" || r.kind == "compact").map(_.wallNs).sum) / 1e9
    val sweeps = timed.filter(_.kind == "sweep")
    val layers: Map[String, Double] = Map(
      "Streams.upsertRead.build_ms_p50" -> Stats.median(reads.map(_.childNs("build") / 1e6).toSeq),
      "range_read.exec_ms_p50" -> Stats.median(reads.map(_.childNs("exec") / 1e6).toSeq),
      "range_read.ms_p95" -> Stats.quantile(readMs, 0.95),
      "range_read.jobs_per_op" -> per("read", _.jobs),
      "range_read.tasks_per_op" -> per("read", _.tasks),
      "range_read.rows_examined_per_row" -> {
        val rs = prefix.filter(_.kind == "read")
        rs.map(_.work.records).sum.toDouble / math.max(1L, rs.map(_.rows).sum)
      },
      "range_read.pending_deltas" -> reads.map(_.extra("pending")).sum / math.max(1, reads.size),
      "Streams.upsertDeltaBatch.ms_p50" -> Stats.median(ms("land")),
      "Streams.upsertDeltaBatch.jobs_per_op" -> per("land", _.jobs),
      "Streams.compactUpsertDeltas.ms_p50" -> Stats.median(ms("compact")),
      "Streams.compactUpsertDeltas.jobs_per_op" -> per("compact", _.jobs),
      "Streams.compactUpsertDeltas.partitions_rewritten" -> {
        val cs = timed.filter(_.kind == "compact")
        cs.map(_.extra("partitions")).sum / math.max(1, cs.size)
      },
      "ingest.rows_per_s" -> (if (landS > 0) landRows / landS else 0.0),
      "write_amp" -> (if (submittedBytes > 0) writtenBytes.toDouble / submittedBytes else 0.0),
      "store.space_amp" -> spaceAmp,
      "fault_sweep.ms_p50" -> Stats.median(ms("sweep")),
      "fault_sweep.rows_scanned" -> sweeps.map(_.extra("scanned")).sum / math.max(1, sweeps.size),
      "fault_sweep.rows_flagged" -> sweeps.map(_.extra("flagged")).sum / math.max(1, sweeps.size),
      "spark.jobs" -> prefixWork.jobs.toDouble,
      "spark.stages" -> prefixWork.stages.toDouble,
      "spark.tasks" -> prefixWork.tasks.toDouble,
      "spark.executor_cpu_s" -> prefixWork.cpuNs / 1e9,
      "spark.executor_run_s" -> prefixWork.runMs / 1e3,
      "spark.cpu_util" -> prefixWork.cpuNs / 1e9 / (deckWalls.head * Runtime.getRuntime.availableProcessors),
      "spark.gc_s" -> prefixWork.gcMs / 1e3,
      "shuffle.write_mb" -> prefixWork.shuffleWrite / 1e6,
      "shuffle.read_mb" -> prefixWork.shuffleRead / 1e6,
      "spill.mb" -> prefixWork.spill / 1e6,
      "scan.input_mb" -> prefixWork.input / 1e6,
      "mem.peak_exec_mb" -> prefixWork.peakExec / 1e6)

    Outcome(
      attempted = attempted,
      failed = failures.size.toLong,
      endToEnd = endToEnd,
      layers = Outcome.completeLayers(layers),
      detail = ListMap(
        "data" -> src, "series" -> series.size, "model_rows" -> keys.size,
        "op_stream_sha256" -> stream.digest, "op_stream_ops" -> stream.size,
        "timed_decks" -> deck, "window_s" -> windowS, "first_fold_s" -> firstFoldS,
        "samples" -> ListMap((kinds :+ "compact").map(k => k -> ms(k).size): _*),
        "deck_walls_s" -> deckWalls.toSeq,
        "failures" -> failures.toSeq))
  }

  private def fs(dir: String) = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Delta directories waiting under the store's `_delta`. */
  private def pendingDeltas(dir: String): Int = {
    val d = new org.apache.hadoop.fs.Path(s"$dir/_delta")
    if (!fs(dir).exists(d)) 0
    else fs(dir).listStatus(d).count(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
  }

  /** Day partition -> its parquet files as (name, length, modification time). */
  private def partitionFiles(dir: String): Map[String, Set[(String, Long, Long)]] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs(dir).exists(p)) Map.empty
    else fs(dir).listStatus(p).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith("event_date=") =>
        st.getPath.getName -> fs(dir).listStatus(st.getPath).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSet
    }.toMap
  }

  private def storeBytes(dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) total += f.getLen
    }
    total
  }
}

object TelemetryWorkload {
  private final case class Rec(sensor: String, value: Double, flag: Option[Byte])
  private final case class OpRun(
      deck: Int, kind: String, wallNs: Long, childNs: Map[String, Long],
      work: Counters, rows: Long, extra: Map[String, Double])

  val Days = 30
  val DayUs: Long = 86400L * 1000000L
  val Start: Long = 1704067200L * 1000000L // 2024-01-01T00:00:00Z, the first day of the events
  val IngestRows = 500
  /** Landings that build the store in setup, below the sink's default
    * cadence of 8. */
  val SetupBatches = 4
  /** Ingest corrections and fault sweeps touch the newest days only. */
  val RecentDays = 3
  val Threshold = 250.0
  /** One deck: 80 % range reads, 15 % ingests, 5 % fault sweeps, spread
    * evenly. The seed draws each operation's parameters; the positions are
    * fixed so every seed sees the same backlog structure.
    */
  val Deck: Seq[String] =
    (Seq.fill(3)(Seq.fill(4)("read") :+ "ingest").flatten ++ Seq.fill(4)("read")) :+ "sweep"
  val Sensors: IndexedSeq[String] = IndexedSeq("click", "error", "purchase", "signup", "view")

  /** A UUID-shaped series id derived from the events' `user_id`. */
  def SeriesId(userId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.format_string("%08x-0000-4000-8000-%012x", userId, userId)

  def micros(t: Timestamp): Long = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** Logical bytes of a submitted row: its strings' UTF-8 bytes, 8 for
    * the timestamp and the value, 1 for the flag. */
  def rowBytes(r: Row): Long =
    r.getString(0).getBytes("UTF-8").length + r.getString(4).getBytes("UTF-8").length + 17L

  def stamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
