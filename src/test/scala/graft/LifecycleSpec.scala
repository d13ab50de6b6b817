package graft

import graft.faults.FaultRules
import graft.sources.Layout
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The reference's entire operating loop, end to end on this engine:
  * telemetry lands as JSON (R9/R1), persists day-partitioned, gets
  * compacted, is fault-flagged by the periodic rule (R5), and serves
  * series range queries (R2) and fault counts (R12) — all asserted against
  * hand-computed truth on one small corpus.
  */
class LifecycleSpec extends SparkSpec {

  test("ingest -> partitioned store -> compact -> fault flag -> range query -> count") {
    val in = java.nio.file.Files.createTempDirectory("lc_in").toString
    val stage = java.nio.file.Files.createTempDirectory("lc_stage").toString
    val ckpt = java.nio.file.Files.createTempDirectory("lc_ckpt").toString
    val store = java.nio.file.Files.createTempDirectory("lc_store").toString

    // day 1: two readings on id-a (one fault), one on id-b; day 2: one more
    val events = Seq(
      ("Sa_FanSpeed", "2024-08-28 12:00:00", 0.96, "id-a"),
      ("Sa_FanSpeed", "2024-08-28 12:05:00", 0.50, "id-a"),
      ("Oa_Temp", "2024-08-28 12:01:00", 0.10, "id-b"),
      ("Sa_FanSpeed", "2024-08-29 09:00:00", 0.99, "id-a"))
    val json = events.map { case (sn, ts, v, id) =>
      s"""{"sensor_name":"$sn","timestamp":"$ts","value":$v,"timeseries_id":"$id"}"""
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(in, "batch.json"), json.mkString("\n").getBytes)

    // 1. streaming ingest (R9+R1): JSON-lines -> day-partitioned parquet
    val q = Streams.ingestFiles(spark, in, stage, ckpt, Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    // 2. re-lay out for scale: day partitions, series-sorted within files
    Layout.writeTelemetry(spark.read.parquet(stage).drop("event_date"), store)

    // 3. compact day 1 (simulating accumulated micro-batch files)
    val (_, after) = Layout.compactPartition(spark, store, "2024-08-28")
    assert(after === 1)

    // 4. periodic fault rule (R5) as a pure recompute over the store
    val flagged = spark.read.parquet(store)
      .withColumn("fc1_flag", FaultRules.thresholdFlag(col("value"), 0.95))

    // 5. R2: series + inclusive range query, day-pruned
    val r2 = Layout.rangeQuery(flagged, "id-a", "2024-08-28 12:00:00", "2024-08-28 12:05:00")
    val rows = r2.orderBy("timestamp").collect()
    assert(rows.length === 2)
    assert(rows.map(_.getAs[Double]("value")).toSeq === Seq(0.96, 0.50))
    // the reference's flag semantics: 1 on the fault, null (not 0) below
    assert(rows.head.getAs[java.lang.Long]("fc1_flag") === 1L)
    assert(rows(1).getAs[java.lang.Long]("fc1_flag") == null)

    // 6. R12: fault count per series across the whole store
    val counts = flagged.filter(col("fc1_flag") === 1)
      .groupBy("timeseries_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("id-a" -> 2L)) // 0.96 on day 1, 0.99 on day 2
  }
}
