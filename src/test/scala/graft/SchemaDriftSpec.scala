package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-8 post-mortem regression suite: the driver regenerated the testdata
  * with `events.ts` as native timestamp[us] where rounds 1-7 shipped int64
  * TIMESTAMP(NANOS), and the encoding-pinned reader failed 63 queries at
  * analysis. This pins the fix: `U.events`/`U.tsRangeUs`/`U.tsUsCol` must
  * yield IDENTICAL results over the same instants in EITHER physical
  * encoding, and `U.probeTables` must name drifted columns loudly.
  *
  * Two nanos fixtures: a plain int64 column, and a true
  * `INT64 TIMESTAMP(NANOS, false)` column written with parquet's own
  * example writer, which only `nanosAsLong=true` (set by
  * [[graft.sources.Tables.read]]) reads, as LongType.
  */
class SchemaDriftSpec extends SparkSpec {

  /** `rows` as `dir/events.parquet`, one file whose `ts` is parquet
    * `INT64 TIMESTAMP(NANOS, false)`, the encoding Spark never writes. */
  private def writeTimestampNanos(dir: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/events.parquet"), conf))
      .withType(schema)
      .withConf(conf)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val g = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, ns, uid, et, v, p) =>
      w.write(g.newGroup().append("event_id", id).append("ts", ns).append("user_id", uid)
        .append("event_type", et).append("value", v).append("props", p))
    } finally w.close()
  }

  private def fixtures(): (String, String, String) = {
    import spark.implicits._
    val base = new java.io.File("target/schema-drift-fixture").getAbsolutePath
    // Three rows spanning a day boundary; micros chosen non-round so the
    // nanos->micros floor path is exercised with sub-ms precision.
    val us = Seq(1704412800123456L, 1704499199999999L, 1704585600000001L)
    val rows = us.zipWithIndex.map { case (u, i) =>
      (i.toLong, u, 7L, s"e$i", i * 1.5, s"""{"k":$i}""")
    }
    val nanosDir = s"$base/nanos"
    val nanosRows = rows.map { case (id, u, uid, et, v, p) => (id, u * 1000L, uid, et, v, p) }
    nanosRows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$nanosDir/events.parquet")
    val tsNanosDir = s"$base/timestamp-nanos"
    writeTimestampNanos(tsNanosDir, nanosRows)
    val microsDir = s"$base/micros"
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$microsDir/events.parquet")
    (nanosDir, microsDir, tsNanosDir)
  }

  test("U.events yields identical TimestampType rows in either physical encoding") {
    val (nanosDir, microsDir, tsNanosDir) = fixtures()
    assert(graft.sources.Tables.read(spark, s"$tsNanosDir/events.parquet").schema("ts").dataType
      === LongType, "TIMESTAMP(NANOS) reads as raw int64")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val Seq(ra, rb, rc) = Seq(nanosDir, microsDir, tsNanosDir).map { d =>
      val e = U.events(spark, d)
      assert(e.schema("ts").dataType === TimestampType, d)
      e.select(cols.map(col): _*).orderBy("event_id").collect().toSeq
    }
    assert(ra === rb)
    assert(rc === rb)
  }

  test("U.tsRangeUs / U.tsUsCol agree across encodings, inclusive bounds") {
    val (nanosDir, microsDir, tsNanosDir) = fixtures()
    // Bounds chosen to include exactly the middle row (endUs inclusive at
    // the row's own micros value) in both encodings.
    val startUs = 1704412800123457L
    val endUs = 1704499199999999L
    def run(dir: String): Seq[Long] = {
      val raw = U.eventsRaw(spark, dir)
      raw.filter(U.tsRangeUs(raw, startUs, endUs))
        .select(U.tsUsCol(raw).as("us")).orderBy("us")
        .collect().map(_.getLong(0)).toSeq
    }
    assert(run(nanosDir) === Seq(1704499199999999L))
    assert(run(nanosDir) === run(microsDir))
    assert(run(tsNanosDir) === run(microsDir))
  }

  test("tsUsCol is exact on nanos values that misround under double division") {
    // Regression (r9 advice, high): `(ts / 1000L).cast("long")` is DOUBLE
    // division in Spark; 2024-epoch nanos (~1.7e18) exceed double's 53-bit
    // exact range (ulp = 256 at this magnitude), so ~12% of values truncate
    // 1 µs low. Only integral `ts DIV 1000` is exact. 2000 consecutive
    // micros values guarantee many misrounding nanos representatives — the
    // single round-tripping fixture value above masked the bug.
    import spark.implicits._
    val base = new java.io.File("target/schema-drift-divfix").getAbsolutePath
    val us = (0L until 2000L).map(1704412800123456L + _)
    us.zipWithIndex
      .map { case (u, i) => (i.toLong, u * 1000L, 7L, "e", 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$base/events.parquet")
    val raw = U.eventsRaw(spark, base)
    assert(raw.schema("ts").dataType === LongType)
    val got = raw.select(U.tsUsCol(raw).as("us"))
      .orderBy("us").collect().map(_.getLong(0)).toSeq
    assert(got === us)
  }

  test("q_select_by_id_range is encoding-agnostic end-to-end") {
    val (nanosDir, microsDir, _) = fixtures()
    val fn = SparkEntry.queries("q_select_by_id_range")
    // Fixture instants are outside the query's fixed Jan-2024 window start,
    // so assert on schema + execution success across encodings plus equal
    // results (both empty or both matching).
    val a = fn(spark, nanosDir).collect().toSeq
    val b = fn(spark, microsDir).collect().toSeq
    assert(a === b)
  }

  test("Tables.read sets the timestamp settings only for a footer with NANOS or NTZ timestamps") {
    import spark.implicits._
    val (nanosDir, microsDir, tsNanosDir) = fixtures()
    val settings = Seq("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.inferTimestampNTZ.enabled")
    val store = new java.io.File("target/schema-drift-store").getAbsolutePath
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-05 10:00:00"))).toDF("id", "ts")
      .write.mode("overwrite").partitionBy("id").parquet(store)
    val s = spark.newSession()
    // the settings this session holds, defaults aside
    def set() = settings.flatMap(k => s.conf.getAll.get(k).map(k -> _))
    assert(set() === Nil, "premise: a fresh session")
    // Spark-written: a store, and the plain int64 and micros fixtures
    assert(graft.sources.Tables.read(s, store).schema("ts").dataType === TimestampType)
    assert(graft.sources.Tables.read(s, s"$nanosDir/events.parquet").schema("ts").dataType === LongType)
    assert(graft.sources.Tables.read(s, s"$microsDir/events.parquet").schema("ts").dataType === TimestampType)
    assert(set() === Nil, "a Spark-written table leaves the session as it was")
    assert(graft.sources.Tables.read(s, s"$tsNanosDir/events.parquet").schema("ts").dataType === LongType)
    assert(set() === Seq(settings(0) -> "true", settings(1) -> "false"))
    // the testdata's NTZ micros set them too, and read as instants
    val ntz = spark.newSession()
    assert(graft.sources.Tables.read(ntz, s"$sfDir/events.parquet").schema("ts").dataType === TimestampType)
    assert(settings.map(ntz.conf.getAll.get) === Seq(Some("true"), Some("false")))
  }

  test("Tables.read names the path of a missing table and of a table with no data file") {
    import java.nio.file.{Files, Paths}
    val missing = new java.io.File("target/schema-drift-missing").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(missing))
    val e = intercept[IllegalStateException](graft.sources.Tables.read(spark, missing))
    assert(e.getMessage.contains(missing), e.getMessage)
    assert(graft.sources.Tables.find(spark, missing) === None, "no table yet is None")
    // what a writer leaves around no data: markers, checksums, an empty
    // partition, and a data file only under a hidden directory
    val empty = new java.io.File("target/schema-drift-empty").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(empty))
    Files.createDirectories(Paths.get(s"$empty/k=1"))
    Files.createFile(Paths.get(s"$empty/_SUCCESS"))
    Files.createFile(Paths.get(s"$empty/.part-0.parquet.crc"))
    spark.range(1).write.parquet(s"$empty/_temporary/0")
    Seq(
      intercept[IllegalStateException](graft.sources.Tables.read(spark, empty)),
      intercept[IllegalStateException](graft.sources.Tables.find(spark, empty))
    ).foreach(e => assert(e.getMessage.contains(empty), e.getMessage))
  }

  test("probeTables passes on the real testdata and names a drifted column") {
    U.probeTables(spark, sfDir) // must not throw on current driver data

    import spark.implicits._
    val bad = new java.io.File("target/schema-drift-bad").getAbsolutePath
    Seq(("x", 1)).toDF("event_id", "nonsense")
      .write.mode("overwrite").parquet(s"$bad/events.parquet")
    Seq(
      "region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      val src = s"$sfDir/$t.parquet"
      spark.read.parquet(src).write.mode("overwrite").parquet(s"$bad/$t.parquet")
    }
    val e = intercept[IllegalStateException](U.probeTables(spark, bad))
    assert(e.getMessage.contains("events.event_id"), e.getMessage)
    assert(e.getMessage.contains("events.ts"), e.getMessage)
  }
}
