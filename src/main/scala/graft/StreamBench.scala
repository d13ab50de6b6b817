package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import Harness.{fixed, jq}

/** Measured facts for the streaming surface (r14; VERDICT r13 item 4):
  * the 19 StreamChecks contracts prove the kernels CORRECT, but nothing
  * measured rows/s, per-micro-batch wall, or state-size-vs-watermark —
  * the claims SCALING.md's streaming section needs artifacts for.
  *
  * Method: the sf events table is staged once as JSON-lines files (the
  * reference's HTTP ingest format, `rusty_timeseries/src/main.rs:327-331`,
  * landed to a directory), then each kernel consumes the SAME staged
  * landing dir through a real file-source streaming query:
  *
  *   - `ingest`        — [[streaming.Streams.ingestFiles]]: JSON → day-
  *                       partitioned parquet, checkpointed (R1/R9).
  *   - `fault_counts`  — watermarked tumbling-window agg, run at TWO
  *                       watermark horizons to measure state rows vs
  *                       horizon (the state-bound claim).
  *   - `upsert`        — [[streaming.Streams.upsertSink]]: idempotent
  *                       key-replace merges into the day-partitioned store.
  *   - `count_mv`      — [[streaming.Streams.countMvSink]]: per-batch MV
  *                       partials + the [[streaming.Streams.mvMixDrift]]
  *                       read that consumes them.
  *   - `minhash_dedup` — [[streaming.Streams.minhashDedupSink]] over the
  *                       documents table (staged the same way): streaming
  *                       near-dup ingest dedup, the heaviest kernel.
  *
  * `maxFilesPerTrigger` splits the staged files into several micro-batches
  * so per-batch wall and cross-batch state/store growth are real, and
  * `Trigger.AvailableNow` drains them in one run. Timings are end-to-end
  * query walls (start → awaitTermination), so they include checkpointing
  * and sink I/O — the production cost, not just the transform.
  *
  * Run: `runMain graft.StreamBench <sfDir> [outJson]` — one JSON line per
  * run, committed as STREAMBENCH_<sf>.json; run at sf0.1 and sf1 for the
  * decade comparison.
  */
object StreamBench {
  /** The events table in the reference's telemetry shape, keyed on
    * (timeseries_id, timestamp) like the upsert tiers. */
  private[graft] def telemetryOf(spark: SparkSession, sfDir: String): DataFrame =
    U.events(spark, sfDir).select(
      col("event_type").as("sensor_name"),
      col("ts").as("timestamp"),
      col("value"),
      lit(null).cast("byte").as("fc1_flag"),
      col("user_id").cast("string").as("timeseries_id"))

  private def rowsPerSec(rows: Long, wall: Double): Long =
    if (wall > 0) (rows / wall).toLong else 0L

  /** One kernel's JSON record; `extra` is a `,"field":value` tail. */
  private[graft] def recordJson(
      rows: Long, wall: Double, perBatchMs: Seq[Long], extra: String): String =
    s"""{"rows":$rows,"wall_sec":${fixed(wall, 2)},"rows_per_sec":${rowsPerSec(rows, wall)},""" +
      s""""n_batches":${perBatchMs.size},""" +
      s""""batch_ms":[${perBatchMs.mkString(",")}]$extra}"""

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1)
    val cpus = Harness.cpus(32)
    val spark = Harness.session(32)

    val work = java.nio.file.Files.createTempDirectory("graft_sbench").toString
    def dir(name: String): String = { val p = s"$work/$name"; p }

    // Arm subset lever (r18): SPARK_GRAFT_STREAMBENCH_ONLY=<name,...>
    // runs only those arms (and stages only the landing dirs they need) so
    // a new arm can get its third-decade row without re-measuring the
    // whole surface. A subset run writes a partial artifact — keep it in a
    // separate file, never over the full-surface one.
    val onlyArms = Harness.config.streamBenchOnly
    def want(arm: String): Boolean = onlyArms.forall(_.contains(arm))

    // ---- stage the landing dirs (not timed: this is the producer's side)
    val wantShuffled = Seq("ingest", "fault_counts", "upsert",
      "upsert_delta", "count_mv", "cm_mv").exists(want)
    val wantOrdered = Seq("upsert_ordered", "upsert_delta_ordered",
      "state_kernels").exists(want)
    val telemetry = telemetryOf(spark, sfDir)
    val nEvents = telemetry.count()
    if (wantShuffled)
      telemetry.repartition(32).write.mode(SaveMode.Overwrite)
        .json(dir("landing_events"))
    // Second landing dir staged in EVENT-TIME order (r15; VERDICT r14
    // item 3): repartition(32) above round-robins rows, so every
    // micro-batch carries every event date and the upsert sink rewrites
    // ALL date partitions per batch — the worst-case arrival order. The
    // ordered staging range-partitions by timestamp, so each batch's files
    // cover a contiguous time slice and touch ~dates/batches partitions.
    // The A/B between the two arms is the per-batch cost-regime probe:
    // O(batch + touched-partition bytes) vs O(stored corpus).
    if (wantOrdered) {
      telemetry.repartitionByRange(32, col("timestamp"))
        .sortWithinPartitions("timestamp")
        .write.mode(SaveMode.Overwrite).json(dir("landing_events_ord"))
      // FileStreamSource batches files oldest-mtime-first; a parallel write
      // finishes parts in task order, not range order, so pin strictly
      // increasing mtimes along the part-file name order (= the range order).
      val parts = new java.io.File(dir("landing_events_ord")).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      val t0 = System.currentTimeMillis() - parts.length * 60000L
      parts.zipWithIndex.foreach { case (f, i) =>
        require(f.setLastModified(t0 + i * 60000L), s"mtime pin failed: $f")
      }
    }
    val docs = U.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val nDocs = if (want("minhash_dedup")) {
      val n = docs.count()
      docs.repartition(16).write.mode(SaveMode.Overwrite)
        .json(dir("landing_docs"))
      n
    } else 0L

    def fileStream(landing: String, schema: org.apache.spark.sql.types.StructType,
        filesPerTrigger: Int): DataFrame =
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger)
        .json(landing)

    /** Drain a started query, return (wall sec, batches, per-batch ms,
      * final state rows if any). */
    def drain(q: StreamingQuery): (Double, Seq[Long], Option[Long]) = {
      val t0 = System.nanoTime()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val perBatch = prog.map(p =>
        p.durationMs.getOrDefault("triggerExecution", 0L).toLong)
      val stateRows = prog.lastOption
        .flatMap(p => p.stateOperators.headOption.map(_.numRowsTotal))
      (wall, perBatch, stateRows)
    }

    val results = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def record(name: String, rows: Long, wall: Double, perBatchMs: Seq[Long],
        extra: String = ""): Unit = {
      results(name) = recordJson(rows, wall, perBatchMs, extra)
      println(s"[streambench] $name: $rows rows in ${fixed(wall, 2)} s " +
        s"(${rowsPerSec(rows, wall)} rows/s, ${perBatchMs.size} batches)")
    }

    // ---- 1. ingest: JSON landing -> day-partitioned parquet
    if (want("ingest")) locally {
      val q = streaming.Streams
        .ingestFiles(spark, dir("landing_events"), dir("ingest_out"),
          dir("ingest_ckpt"), Trigger.AvailableNow())
        .start()
      val (wall, perBatch, _) = drain(q)
      val landed = spark.read.parquet(dir("ingest_out")).count()
      require(landed == nEvents, s"ingest landed $landed of $nEvents")
      record("ingest", nEvents, wall, perBatch)
    }

    // ---- 2. fault_counts at two watermark horizons: state ~ horizon
    for ((wm, tag) <- Seq(("10 minutes", "wm10m"), ("6 hours", "wm6h"))
         if want("fault_counts")) {
      val src = fileStream(
        dir("landing_events"), streaming.Streams.telemetrySchema, 8)
      val q = streaming.Streams
        .faultCounts(src, threshold = 0.9, windowLen = "5 minutes",
          watermark = wm)
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", dir(s"fc_ckpt_$tag"))
        .trigger(Trigger.AvailableNow())
        .start()
      val (wall, perBatch, stateRows) = drain(q)
      record(s"fault_counts_$tag", nEvents, wall, perBatch,
        s""","watermark":${jq(wm)},"state_rows":${stateRows.getOrElse(-1L)}""")
    }

    // ---- 3. upsert: idempotent key-replace into the partitioned store
    var shuffledStored = -1L
    if (want("upsert")) locally {
      val src = fileStream(
        dir("landing_events"), streaming.Streams.telemetrySchema, 8)
      val q = streaming.Streams
        .upsertSink(src, dir("upsert_out"), dir("upsert_ckpt"),
          Trigger.AvailableNow())
        .start()
      val (wall, perBatch, _) = drain(q)
      val stored = spark.read.parquet(dir("upsert_out")).count()
      shuffledStored = stored
      record("upsert", nEvents, wall, perBatch,
        s""","stored_rows":$stored,"arrival":"shuffled"""")
    }

    // ---- 3b. upsert under event-time-ORDERED arrival: same sink, same
    // batching, but each micro-batch's files cover a contiguous time
    // slice. stored_rows must equal the shuffled arm's — arrival order
    // may only change COST, never the merged store's contents.
    if (want("upsert_ordered")) locally {
      val src = fileStream(
        dir("landing_events_ord"), streaming.Streams.telemetrySchema, 8)
      val q = streaming.Streams
        .upsertSink(src, dir("upsert_ord_out"), dir("upsert_ord_ckpt"),
          Trigger.AvailableNow())
        .start()
      val (wall, perBatch, _) = drain(q)
      val stored = spark.read.parquet(dir("upsert_ord_out")).count()
      require(shuffledStored < 0 || stored == shuffledStored,
        s"ordered upsert stored $stored != shuffled arm's $shuffledStored")
      record("upsert_ordered", nEvents, wall, perBatch,
        s""","stored_rows":$stored,"arrival":"event-time-ordered"""")
    }

    // ---- 3c. the DELTA tier under the same worst-case shuffled arrival
    // (r16; VERDICT r15 item 6): every batch still touches every date, but
    // it lands O(batch) in its own _delta/batch=<id> dir and the store is
    // folded once per compactEvery batches instead of merged per batch —
    // the mitigation for the corpus-coupled regime arm 3 prices. Final
    // compaction included in the wall (the fair end-to-end cost); the
    // drained store must be byte-equal in content to the direct arms'.
    if (want("upsert_delta")) locally {
      val src = fileStream(
        dir("landing_events"), streaming.Streams.telemetrySchema, 8)
      val q = streaming.Streams
        .upsertDeltaSink(src, dir("upsert_delta_out"), dir("upsert_delta_ckpt"),
          Trigger.AvailableNow())
        .start()
      val (wall0, perBatch, _) = drain(q)
      val t0 = System.nanoTime()
      streaming.Streams.compactUpsertDeltas(spark, dir("upsert_delta_out"))
      val wall = wall0 + (System.nanoTime() - t0) / 1e9
      val stored = spark.read.parquet(dir("upsert_delta_out")).count()
      require(shuffledStored < 0 || stored == shuffledStored,
        s"delta upsert stored $stored != direct arm's $shuffledStored")
      record("upsert_delta", nEvents, wall, perBatch,
        s""","stored_rows":$stored,"arrival":"shuffled","compact_every":8""")
    }

    // ---- 3d. the delta tier under ORDERED arrival (r17; VERDICT r16
    // item 3: "both arrival orders" at every measured decade): when each
    // batch touches few dates the direct tier is already O(batch), so this
    // arm prices the delta tier's OVERHEAD (landing + one final fold) in
    // the regime it wasn't built for — the tier is only worth defaulting
    // to if this stays within ~1x of upsert_ordered.
    if (want("upsert_delta_ordered")) locally {
      val src = fileStream(
        dir("landing_events_ord"), streaming.Streams.telemetrySchema, 8)
      val q = streaming.Streams
        .upsertDeltaSink(src, dir("upsert_delta_ord_out"),
          dir("upsert_delta_ord_ckpt"), Trigger.AvailableNow())
        .start()
      val (wall0, perBatch, _) = drain(q)
      val t0 = System.nanoTime()
      streaming.Streams.compactUpsertDeltas(spark, dir("upsert_delta_ord_out"))
      val wall = wall0 + (System.nanoTime() - t0) / 1e9
      val stored = spark.read.parquet(dir("upsert_delta_ord_out")).count()
      require(shuffledStored < 0 || stored == shuffledStored,
        s"ordered delta upsert stored $stored != direct arm's $shuffledStored")
      record("upsert_delta_ordered", nEvents, wall, perBatch,
        s""","stored_rows":$stored,"arrival":"event-time-ordered","compact_every":8""")
    }

    // ---- 4. count MV maintenance + the monitor read it serves
    if (want("count_mv")) locally {
      val src = fileStream(
        dir("landing_events"), streaming.Streams.telemetrySchema, 8)
      val q = streaming.Streams
        .countMvSink(src, dir("cmv_out"), dir("cmv_ckpt"),
          Trigger.AvailableNow())
        .start()
      val (wall, perBatch, _) = drain(q)
      val t0 = System.nanoTime()
      val nDrift = streaming.Streams.mvMixDrift(spark, dir("cmv_out")).count()
      val readSec = (System.nanoTime() - t0) / 1e9
      record("count_mv", nEvents, wall, perBatch,
        s""","mv_read_sec":${fixed(readSec, 2)},"drift_rows":$nDrift""")
    }

    // ---- 4b. CM-sketch MV maintenance + a point-frequency read (r17;
    // VERDICT r16 item 3 names the cm MV among the sinks without a deep
    // decade): per-batch cost must stay flat — the sink appends
    // fixed-width integer cell rows (4x512 per batch-day), never rescans
    if (want("cm_mv")) locally {
      val src = fileStream(
        dir("landing_events"), streaming.Streams.telemetrySchema, 8)
      val q = streaming.Streams
        .cmMvSink(src, dir("cmmv_out"), dir("cmmv_ckpt"),
          Trigger.AvailableNow())
        .start()
      val (wall, perBatch, _) = drain(q)
      val probeKeys = telemetry.select(col("timeseries_id"))
        .distinct().orderBy(col("timeseries_id")).limit(8)
        .collect().map(_.getString(0)).toSeq
      val t0 = System.nanoTime()
      val nEst = streaming.Streams
        .cmEstimate(spark, dir("cmmv_out"), probeKeys, "1970-01-01", "2100-01-01")
        .count()
      val readSec = (System.nanoTime() - t0) / 1e9
      record("cm_mv", nEvents, wall, perBatch,
        s""","mv_read_sec":${fixed(readSec, 2)},"probe_keys":$nEst""")
    }

    // ---- 4c. stateful kernels (the flatMapGroupsWithState family) —
    // r18; VERDICT r17 item 2: the keyed-state store and its timeout
    // scans are exactly the part that grows with series count, and until
    // this round their deepest evidence was sf1-scale StreamingSpec
    // equivalence. Per kernel: per-batch walls, emitted rows, and the
    // state store's final row/byte footprint against the series
    // cardinality (the state-bounded-by-live-series claim). Ordered
    // arrival: the regime the kernels' cross-batch fold semantics are
    // specified for (a shuffled landing would advance the watermark to
    // near-max after batch 1 and turn the rest into late-drop noise).
    if (want("state_kernels")) locally {
      import spark.implicits._
      val nSeries = telemetry.select(col("timeseries_id")).distinct().count()
      def teleSrc() = fileStream(
        dir("landing_events_ord"), streaming.Streams.telemetrySchema, 8)
        .as[streaming.Telemetry]
      val kernels: Seq[(String, () => DataFrame)] = Seq(
        ("fault_runs", () => streaming.Streams.faultRuns(teleSrc(), 0.9, 3).toDF()),
        ("rates", () => streaming.Streams.rates(teleSrc()).toDF()),
        ("ewma", () => streaming.Streams.ewma(teleSrc()).toDF()),
        ("silent_series", () => streaming.Streams.silentSeries(teleSrc()).toDF()))
      for ((name, mk) <- kernels) {
        val q = mk()
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", dir(s"${name}_ckpt"))
          .trigger(Trigger.AvailableNow())
          .start()
        val t0 = System.nanoTime()
        q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        val prog = q.recentProgress.toSeq
        val perBatch = prog.filter(_.numInputRows > 0).map(p =>
          p.durationMs.getOrDefault("triggerExecution", 0L).toLong)
        val emitted = prog.map(_.sink.numOutputRows).filter(_ > 0).sum
        val lastState = prog.reverse
          .flatMap(_.stateOperators.headOption).headOption
        record(name, nEvents, wall, perBatch,
          s""","emitted":$emitted,"n_series":$nSeries""" +
            s""","state_rows":${lastState.map(_.numRowsTotal).getOrElse(-1L)}""" +
            s""","state_bytes":${lastState.map(_.memoryUsedBytes).getOrElse(-1L)}""")
      }
    }

    // ---- 5. streaming near-dup dedup over documents
    if (want("minhash_dedup")) locally {
      val docSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "text", org.apache.spark.sql.types.StringType)))
      val src = fileStream(dir("landing_docs"), docSchema, 4)
      val q = streaming.Streams
        .minhashDedupSink(src, dir("dd_store"), dir("dd_ckpt"),
          Trigger.AvailableNow())
        .start()
      val (wall, perBatch, _) = drain(q)
      val survivors =
        streaming.Streams.dedupSurvivors(spark, dir("dd_store")).count()
      val dropped =
        streaming.Streams.dedupDecisions(spark, dir("dd_store")).count()
      require(survivors + dropped == nDocs,
        s"dedup store $survivors+$dropped != $nDocs")
      record("minhash_dedup", nDocs, wall, perBatch,
        s""","survivors":$survivors,"dropped":$dropped""")
    }

    val json =
      s"""{"metric":"streaming surface throughput","sf":${jq(sfDir)},""" +
        s""""events":$nEvents,"docs":$nDocs,"cpus":$cpus,""" +
        s""""method":"file-source micro-batches (maxFilesPerTrigger) drained by Trigger.AvailableNow; walls include checkpoint + sink I/O",""" +
        results.map { case (k, v) => s"${jq(k)}:$v" }.mkString("", ",", "}")
    println(json)
    out.foreach { p =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(p), (json + "\n").getBytes("UTF-8"))
    }
    // the staged landing dirs and stores are scratch
    scala.reflect.io.Path(new java.io.File(work)).deleteRecursively()
    spark.stop()
  }
}
