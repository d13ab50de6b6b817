package graft

import org.apache.spark.sql.DataFrame
import Harness.fixed
import org.apache.spark.sql.functions._

/** Price the delta tier's MERGE-ON-READ view (r17; VERDICT r16 item 4):
  * [[streaming.Streams.upsertRead]] is correctness-tested (StreamingSpec)
  * and the tier's WRITE win is measured (STREAMBENCH_sf10.json: 443 k
  * rows/s shuffled arrival vs the direct tier's 74 k), but the read a user
  * actually issues BETWEEN compactions — compacted partitions + an
  * anti-join against the pending-delta winners — had no cost row; the
  * write win could be hiding a read tax.
  *
  * Method: build one compacted store from the sf events table (the
  * STREAMBENCH telemetry shape, split into 16 deterministic batches by
  * `pmod(hash(series, ts), 16)` — shuffled arrival, the regime the tier
  * exists for), land batches 0-7 as deltas and compact them (backlog 0),
  * then land 4 more pending deltas at a time and re-price the read at
  * backlog 4 and 8. Each read is QTime's plan-true hash consumer
  * (xxhash64 over every output column — nothing prunable), warm + min of
  * 2 timed passes, same JVM, ascending-backlog order so the page cache is
  * warmest for the arms that do LESS work (conservative for the claim
  * "backlog makes reads slower"). `compacted_only` prices the same
  * consumer over the plain parquet view (what a reader who ignores the
  * pending deltas pays) on the SAME store at backlog 0.
  *
  * Emits one JSON line (and optionally writes it to args(1)):
  * read wall vs backlog depth + the row counts proving each view resolved
  * the deltas it claims (merged rows == distinct keys applied so far).
  */
object UpsertReadBench {
  private val NBatches = 16
  private val BaseBatches = 8 // compacted base; 4+4 land as pending deltas

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1)
    val cpus = Harness.cpus(32)
    val spark = Harness.session(32)

    val work = java.nio.file.Files.createTempDirectory("graft_urb").toString
    val store = s"$work/upsert_store"

    // deterministic shuffled split: every batch carries every date
    val batched = StreamBench.telemetryOf(spark, sfDir)
      .withColumn("_b", pmod(xxhash64(col("timeseries_id"), col("timestamp")), lit(NBatches)))
      .persist()
    val nEvents = batched.count()

    def landBatch(b: Int): Unit =
      streaming.Streams.upsertDeltaBatch(
        batched.filter(col("_b") === b).drop("_b"),
        store, b.toLong, compactEvery = Int.MaxValue)

    (0 until BaseBatches).foreach(landBatch)
    val folded = streaming.Streams.compactUpsertDeltas(spark, store)
    require(folded == BaseBatches, s"compacted $folded of $BaseBatches deltas")

    /** expected merged row count after batches [0, upTo): distinct keys */
    def expectRows(upTo: Int): Long = batched
      .filter(col("_b") < upTo)
      .select(col("timeseries_id"), col("timestamp"))
      .distinct()
      .count()

    /** warm + min-of-2 plan-true wall for one DataFrame-producing thunk
      * (fresh frame per pass — upsertRead lists delta dirs at build time).
      */
    def time(mk: () => DataFrame): (Double, Long) = {
      val rows = QTime.evalRows(mk(), forceHash = true) // warm
      val t = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        QTime.evalRows(mk(), forceHash = true)
        (System.nanoTime() - t0) / 1e9
      }.min
      (t, rows)
    }

    val results = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def price(tag: String, backlog: Int, mk: () => DataFrame, expect: Long): Unit = {
      val (sec, rows) = time(mk)
      require(rows == expect, s"$tag rows=$rows expected=$expect")
      results(tag) =
        s"""{"backlog_batches":$backlog,"read_sec":${fixed(sec, 2)},"rows":$rows}"""
      println(s"[upsertread] $tag: ${fixed(sec, 2)} s ($rows rows, backlog $backlog)")
    }

    // backlog 0: merge-on-read over a fully-compacted store must price at
    // the plain read + the (empty-pending) short-circuit
    price("merge_on_read_b0", 0,
      () => streaming.Streams.upsertRead(spark, store), expectRows(BaseBatches))
    price("compacted_only", 0,
      () => spark.read.parquet(store), expectRows(BaseBatches))

    (BaseBatches until BaseBatches + 4).foreach(landBatch)
    price("merge_on_read_b4", 4,
      () => streaming.Streams.upsertRead(spark, store), expectRows(BaseBatches + 4))

    (BaseBatches + 4 until NBatches).foreach(landBatch)
    price("merge_on_read_b8", 8,
      () => streaming.Streams.upsertRead(spark, store), expectRows(NBatches))

    // the exit path: compacting the 8-deep backlog, then the plain read —
    // the amortized cost a compactEvery policy trades the read tax against
    locally {
      val t0 = System.nanoTime()
      val n = streaming.Streams.compactUpsertDeltas(spark, store)
      val sec = (System.nanoTime() - t0) / 1e9
      require(n == 8, s"final compaction folded $n of 8")
      results("compact_8") = s"""{"folded":$n,"compact_sec":${fixed(sec, 2)}}"""
      println(s"[upsertread] compact_8: ${fixed(sec, 2)} s")
      price("compacted_only_after", 0,
        () => spark.read.parquet(store), expectRows(NBatches))
    }

    // the REALISTIC backlog regime (r17): late corrections touch a handful
    // of dates, not every partition — land 4 pending deltas confined to
    // the two most recent event dates and re-price the merge-on-read.
    // They fit this process's resolved set, so the read is one scan
    // anti-joined by a broadcast against it (Streams.upsertRead); on the
    // window plan the date split keeps the untouched partitions out of
    // the anti-join. The merged row count is unchanged (the corrections
    // re-state existing keys).
    locally {
      val locDates = batched
        .select(to_date(col("timestamp")).as("d")).distinct()
        .orderBy(col("d").desc).limit(2)
        .collect().map(_.getDate(0))
      val local = batched
        .filter(to_date(col("timestamp")).isin(locDates.toIndexedSeq: _*))
      val nLocal = local.count()
      (0 until 4).foreach { i =>
        streaming.Streams.upsertDeltaBatch(
          local.filter(pmod(col("_b"), lit(4)) === i).drop("_b"),
          store, 100L + i, compactEvery = Int.MaxValue)
      }
      println(s"[upsertread] local backlog: $nLocal rows across " +
        s"${locDates.length} dates in 4 pending deltas")
      price("merge_on_read_local4", 4,
        () => streaming.Streams.upsertRead(spark, store), expectRows(NBatches))
      results("local_backlog") =
        s"""{"pending_rows":$nLocal,"touched_dates":${locDates.length}}"""
    }

    val json =
      s"""{"metric":"merge-on-read cost vs pending-delta backlog","sf":"$sfDir",""" +
        s""""events":$nEvents,"cpus":$cpus,"n_batches":$NBatches,""" +
        s""""method":"plan-true hash consumer (QTime.hashConsumer), warm + min-of-2, one JVM, ascending backlog; shuffled 16-way key-hash batches; store = day-partitioned parquet + _delta pending dirs",""" +
        results.map { case (k, v) => s""""$k":$v""" }.mkString("", ",", "}")
    println(json)
    out.foreach { p =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(p), (json + "\n").getBytes("UTF-8"))
    }
    batched.unpersist()
    scala.reflect.io.Path(new java.io.File(work)).deleteRecursively()
    spark.stop()
  }
}
