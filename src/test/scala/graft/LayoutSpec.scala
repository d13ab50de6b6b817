package graft

import graft.sources.{Layout, Tables}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** The 100 TB layout claims, demonstrated on real files: writing
  * day-partitioned telemetry and proving the range query PRUNES — partition
  * directories via PartitionFilters and row groups via PushedFilters — by
  * inspecting the executed FileSourceScan, not just trusting the API.
  * The input is the events corpus on the reference's schema
  * ([[StreamBench.telemetryOf]]): String `timeseries_id`, `timestamp`.
  */
class LayoutSpec extends SparkSpec {

  private def telemetry = StreamBench.telemetryOf(spark, sfDir)

  private lazy val outDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft_layout").toString
    Layout.writeTelemetry(telemetry, dir)
    dir
  }

  /** Every row of `df` over the telemetry columns, sorted: a multiset. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("timeseries_id", "timestamp", "value", "sensor_name").collect()
      .map(_.toString).sorted.toSeq

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    df.collect() // force execution so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collectLeaves().collectFirst { case s: FileSourceScanExec => s }.get
  }

  test("telemetry lands day-partitioned with all rows intact") {
    val back = spark.read.parquet(outDir)
    assert(back.count() === telemetry.count())
    val days = back.select("event_date").distinct().count()
    assert(days > 1, "expected multiple event_date partitions")
  }

  test("range query prunes partition directories (PartitionFilters)") {
    val q = Layout.rangeQuery(
      Tables.read(spark, outDir), "7", "2024-01-05 00:00:00", "2024-01-06 23:59:59")
    val scan = scanOf(q)
    assert(scan.partitionFilters.nonEmpty, "no partition filters at the scan")
    // only the 2 matching date dirs may be read
    assert(scan.relation.location.inputFiles.length > 2,
      "layout should have more files than the pruned set")
    val readPartitions = scan.selectedPartitions.partitionCount
    assert(readPartitions === 2,
      s"expected 2 pruned date partitions, scan read $readPartitions")
  }

  test("series + time predicates reach the scan as data filters") {
    val q = Layout.rangeQuery(
      Tables.read(spark, outDir), "7", "2024-01-05 00:00:00", "2024-01-06 23:59:59")
    val scan = scanOf(q)
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("EqualTo(timeseries_id,7)"), s"timeseries_id not pushed: $pushed")
    assert(pushed.contains("GreaterThanOrEqual(timestamp,") || pushed.contains("timestamp"),
      s"timestamp range not pushed: $pushed")
  }

  test("z-ordered layout: file stats prune BOTH dimensions; lexicographic sort prunes only its leading column") {
    import org.apache.spark.sql.functions._
    val zDir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val lexDir = java.nio.file.Files.createTempDirectory("graft_lex").toString
    val events = telemetry
    Layout.writeTelemetryZOrdered(events, zDir)
    // lexicographic strawman: same file count, (series, time) sort
    events.repartitionByRange(16, col("timeseries_id"), col("timestamp"))
      .sortWithinPartitions("timeseries_id", "timestamp")
      .write.mode("overwrite").parquet(lexDir)

    // per-file min/max of the two coordinates the z layout clusters by
    // (the series id as a long, the time), the stats a reader's
    // file/row-group pruning consults
    def fileStats(dir: String) = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(
        min(col("timeseries_id").cast("long")).as("u0"),
        max(col("timeseries_id").cast("long")).as("u1"),
        min(unix_micros(col("timestamp"))).as("t0"),
        max(unix_micros(col("timestamp"))).as("t1"))
      .collect()
    val z = fileStats(zDir)
    val lex = fileStats(lexDir)
    assert(z.length >= 8 && lex.length >= 8)

    // probes: one mid-range series key; one ~3-day time band
    val uProbe = 7L
    val (tLo, tHi) = {
      val r = events.agg(
        min(unix_micros(col("timestamp"))), max(unix_micros(col("timestamp")))).head()
      val (a, b) = (r.getLong(0), r.getLong(1))
      (a + (b - a) / 2, a + (b - a) / 2 + (b - a) / 10)
    }
    def uCand(st: Array[org.apache.spark.sql.Row]) =
      st.count(r => r.getAs[Long]("u0") <= uProbe && uProbe <= r.getAs[Long]("u1"))
    def tCand(st: Array[org.apache.spark.sql.Row]) =
      st.count(r => r.getAs[Long]("t0") <= tHi && tLo <= r.getAs[Long]("t1"))

    // lexicographic: series (leading) prunes, but the time band sees ~all
    // files — each file spans the full time range of its series slice
    assert(tCand(lex) >= (lex.length * 0.9).toInt,
      s"expected the lex layout NOT to prune time: ${tCand(lex)}/${lex.length}")
    // z-order: BOTH 1-D probes prune to a strict subset of files
    assert(uCand(z) <= (z.length * 0.75).toInt,
      s"z-order failed to prune on series: ${uCand(z)}/${z.length}")
    assert(tCand(z) <= (z.length * 0.75).toInt,
      s"z-order failed to prune on time: ${tCand(z)}/${z.length}")
    // and the data round-trips intact
    assert(spark.read.parquet(zDir).count() === events.count())
  }

  test("compaction merges small files, preserves rows, keeps pruning intact") {
    // fragment one partition the way per-micro-batch appends would
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val ev = telemetry
      .withColumn("event_date", to_date(col("timestamp")))
    val oneDay = ev.filter(col("event_date") === "2024-01-05").drop("event_date")
    oneDay.repartition(7).write.mode("overwrite")
      .parquet(s"$dir/event_date=2024-01-05")
    val rowsBefore = spark.read.parquet(dir).count()
    val (before, after) = Layout.compactPartition(spark, dir, "2024-01-05")
    assert(before === 7)
    assert(after === 1, s"expected 1 compacted file, got $after")
    val back = spark.read.parquet(dir)
    assert(back.count() === rowsBefore, "compaction must not lose rows")
    // pruning on the untouched partition column still works
    assert(back.filter(col("event_date") === "2024-01-05").count() === rowsBefore)
  }

  test("schema evolution: a later partition with an added column reads under mergeSchema, old rows null-filled") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evo").toString
    // day 1 written with the v1 schema
    Seq(("id-1", java.sql.Timestamp.valueOf("2024-01-05 10:00:00"), 1.0))
      .toDF("timeseries_id", "timestamp", "value")
      .transform(df => { graft.sources.Layout.writeTelemetry(df, dir); df })
    // day 2 written with an added column (append, not overwrite)
    Seq(("id-2", java.sql.Timestamp.valueOf("2024-01-06 10:00:00"), 2.0, "siteA"))
      .toDF("timeseries_id", "timestamp", "value", "site")
      .transform(df => {
        graft.sources.Layout
          .writeTelemetry(df, dir, mode = org.apache.spark.sql.SaveMode.Append)
        df
      })
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("timeseries_id", "timestamp", "value", "site", "event_date"))
    val rows = merged.orderBy("timeseries_id").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[String]("site") === null, "v1 rows read as null for the new column")
    assert(rows(1).getAs[String]("site") === "siteA")
    // day-partition pruning still works on the merged schema
    val pruned = merged.filter(col("event_date") === "2024-01-06")
    assert(pruned.count() === 1)
  }

  test("crash between the compaction renames: recoverPartition rolls back, rows intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_crash").toString
    val ev = telemetry
      .withColumn("event_date", to_date(col("timestamp")))
    val oneDay = ev.filter(col("event_date") === "2024-01-05").drop("event_date")
    oneDay.repartition(3).write.mode("overwrite")
      .parquet(s"$dir/event_date=2024-01-05")
    val rowsBefore = spark.read.parquet(dir).count()
    // Simulate the crash window: tmp fully written, live moved aside, and
    // the process died BEFORE tmp was installed — live dir missing, the only
    // complete copy sitting in .compact_old_...
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$dir/event_date=2024-01-05")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/.compact_tmp_event_date=2024-01-05")
    val old = new org.apache.hadoop.fs.Path(s"$dir/.compact_old_event_date=2024-01-05")
    oneDay.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    assert(fs.rename(live, old))
    assert(!fs.exists(live) && fs.exists(old) && fs.exists(tmp))
    // recovery restores the live dir and sweeps both side dirs
    assert(Layout.recoverPartition(spark, dir, "2024-01-05") === true)
    assert(fs.exists(live) && !fs.exists(old) && !fs.exists(tmp))
    assert(spark.read.parquet(dir).count() === rowsBefore,
      "rollback must restore every row")
    // a second call is a no-op (idempotent)
    assert(Layout.recoverPartition(spark, dir, "2024-01-05") === false)
    assert(spark.read.parquet(dir).count() === rowsBefore)
  }

  test("compactPartition self-heals a crashed previous swap, then compacts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_crash2").toString
    val ev = telemetry
      .withColumn("event_date", to_date(col("timestamp")))
    val oneDay = ev.filter(col("event_date") === "2024-01-05").drop("event_date")
    oneDay.repartition(5).write.mode("overwrite")
      .parquet(s"$dir/event_date=2024-01-05")
    val rowsBefore = spark.read.parquet(dir).count()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$dir/event_date=2024-01-05")
    val old = new org.apache.hadoop.fs.Path(s"$dir/.compact_old_event_date=2024-01-05")
    assert(fs.rename(live, old)) // crashed mid-swap, live missing
    val (before, after) = Layout.compactPartition(spark, dir, "2024-01-05")
    assert(before === 5, "retry must see the rolled-back input files")
    assert(after === 1)
    assert(spark.read.parquet(dir).count() === rowsBefore)
    assert(!fs.exists(old), "completed compaction must leave no old copy")
  }

  test("bucketed tables join on the series key with zero shuffle exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val ev = telemetry
    // a previous JVM's warehouse dirs survive under target/ while the
    // in-memory catalog starts empty -> CTAS location collision; clear both
    for (t <- Seq("tele_a", "tele_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    Layout.writeTelemetryBucketed(ev, "tele_a", nBuckets = 4)
    Layout.writeTelemetryBucketed(ev, "tele_b", nBuckets = 4)
    // AQE off (QueryStageExec leaves would hide exchanges from collect) AND
    // broadcast off (tiny test tables would broadcast-join, which is
    // shuffle-free regardless of bucketing — proving nothing); with both
    // disabled, zero exchanges is attributable only to bucket alignment.
    withPlanShapeConf(disableBroadcast = true) {
      val joined = spark.table("tele_a").as("a")
        .join(spark.table("tele_b").as("b"), "timeseries_id")
        .groupBy(col("timeseries_id"))
        .agg(count(lit(1)).as("n"))
      val plan = executedPlan(joined)
      assert(plan.collect { case j: SortMergeJoinExec => j }.nonEmpty,
        s"expected the non-broadcast join path, got:\n$plan")
      val joinShuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(joinShuffles.isEmpty,
        s"expected shuffle-free bucketed join, found ${joinShuffles.length} exchanges")
      // and the result is still correct
      val direct = ev.as("a").join(ev.as("b"), "timeseries_id")
        .groupBy(col("timeseries_id")).agg(count(lit(1)).as("n"))
        .orderBy("timeseries_id").collect()
      assert(joined.orderBy("timeseries_id").collect().toSeq === direct.toSeq)
    }
  }

  test("pruned range query returns exactly the brute-force rows") {
    val got = rowsOf(Layout.rangeQuery(
      Tables.read(spark, outDir), "7", "2024-01-05 00:00:00", "2024-01-06 23:59:59"))
    val want = rowsOf(telemetry
      .filter(col("timeseries_id") === "7" &&
        col("timestamp").between(
          lit("2024-01-05 00:00:00").cast("timestamp"),
          lit("2024-01-06 23:59:59").cast("timestamp"))))
    assert(got.nonEmpty && got === want)
  }

  test("a warm rangeQuery with a new key and range compiles nothing and returns the brute-force rows") {
    val picks = telemetry
      .orderBy("timestamp", "timeseries_id")
      .select(col("timeseries_id"), to_date(col("timestamp")).as("day"))
      .collect()
    // a key and a two-day window around each of four readings spread over the corpus
    val reads = (1 to 4).map { i =>
      val r = picks(i * picks.length / 5)
      val day = r.getDate(1).toLocalDate
      (r.getString(0), s"$day 00:00:00", s"${day.plusDays(1)} 23:59:59")
    }
    def want(key: String, from: String, to: String) = rowsOf(telemetry
      .filter(col("timeseries_id") === key &&
        col("timestamp").between(lit(from).cast("timestamp"), lit(to).cast("timestamp"))))
    def got(key: String, from: String, to: String) =
      rowsOf(Layout.rangeQuery(Tables.read(spark, outDir), key, from, to))
    val (k0, from0, to0) = reads.head
    assert(got(k0, from0, to0) === want(k0, from0, to0))
    reads.tail.foreach { case (key, from, to) =>
      val expected = want(key, from, to)
      val (rows, n) = compilesDuring(got(key, from, to))
      assert(rows.nonEmpty && rows === expected, s"$key [$from, $to]")
      assert(n === 0, s"a warm rangeQuery of $key [$from, $to] compiled $n classes")
    }
  }

  test("zValue: Morton interleave is bit-exact against a driver-side reference") {
    import spark.implicits._
    // the driver-side twin IS ZCurve.z — pin codegen'd and driver math together
    def ref(x: Long, y: Long): Long = graft.sources.ZCurve.z(x, y)
    // corners pin the bit convention: x fills the even bits, y the odd
    val corners = Seq((65535L, 0L), (0L, 65535L), (65535L, 65535L), (1L, 0L), (0L, 1L))
    val rng = new scala.util.Random(42)
    val cases = corners ++ Seq.fill(200)((rng.nextInt(65536).toLong, rng.nextInt(65536).toLong))
    val got = cases.toDF("x", "y")
      .select(col("x"), col("y"), ops.LayoutOps.zValue(col("x"), col("y")).as("z"))
      .collect()
    got.foreach { r =>
      val (x, y) = (r.getLong(0), r.getLong(1))
      assert(r.getLong(2) === ref(x, y), s"zValue($x, $y)")
    }
    assert(ref(65535L, 0L) === 0x55555555L && ref(0L, 65535L) === 0xAAAAAAAAL)
  }

  test("q_layout_zorder: stats table is complete and its skipping decisions are sound") {
    val out = Registry.byName("q_layout_zorder").fn(spark, sfDir).collect()
    val byLayout = out.groupBy(_.getAs[String]("layout"))
    assert(byLayout.keySet === Set("zorder", "linear"))
    val total = U.lineitem(spark, sfDir).count()
    byLayout.foreach { case (l, rows) =>
      assert(rows.map(_.getAs[Long]("n_rows")).sum === total, s"$l row coverage")
      rows.foreach { r =>
        assert(r.getAs[Long]("min_x") <= r.getAs[Long]("max_x"))
        assert(r.getAs[Long]("min_y") <= r.getAs[Long]("max_y"))
        // scan_needed must be exactly the footer-stats overlap decision
        val expect = r.getAs[Long]("max_x") >= ops.LayoutOps.ProbeLo &&
          r.getAs[Long]("min_x") <= ops.LayoutOps.ProbeHi &&
          r.getAs[Long]("max_y") >= ops.LayoutOps.ProbeLo &&
          r.getAs[Long]("min_y") <= ops.LayoutOps.ProbeHi
        assert(r.getAs[Boolean]("scan_needed") === expect)
      }
    }
    // soundness: every row matching the probe predicate lives in a bucket
    // flagged scan_needed — skipping never drops a qualifying row. Rebuild
    // the quantized coords and bucket ids driver-side from raw (x, y).
    val xy = U.lineitem(spark, sfDir)
      .select(
        col("l_partkey").cast("long"),
        expr("unix_micros(l_shipdate) div 86400000000"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def quant(v: Long, lo: Long, hi: Long) = (v - lo) * 65535L / math.max(1L, hi - lo)
    val (xLo, xHi) = (xy.map(_._1).min, xy.map(_._1).max)
    val (yLo, yHi) = (xy.map(_._2).min, xy.map(_._2).max)
    def zRef(x: Long, y: Long): Long =
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val needed = out
      .filter(_.getAs[Boolean]("scan_needed"))
      .map(r => (r.getAs[String]("layout"), r.getAs[Long]("bucket_id")))
      .toSet
    val qualifying = xy.iterator.map { case (x, y) => (quant(x, xLo, xHi), quant(y, yLo, yHi)) }
      .filter { case (xq, yq) =>
        xq >= ops.LayoutOps.ProbeLo && xq <= ops.LayoutOps.ProbeHi &&
          yq >= ops.LayoutOps.ProbeLo && yq <= ops.LayoutOps.ProbeHi
      }.toSeq
    assert(qualifying.nonEmpty, "driver data must put rows inside the probe window")
    qualifying.foreach { case (xq, yq) =>
      assert(needed.contains(("zorder", zRef(xq, yq) >> 24)), s"z bucket of ($xq,$yq) not flagged")
      assert(needed.contains(("linear", yq >> 8)), s"linear bucket of ($xq,$yq) not flagged")
    }
  }

  test("ZCurve: deinterleave inverts z; range cover is exact at floorBits=0 and sound at defaults") {
    val rng = new scala.util.Random(7)
    (0 until 300).foreach { _ =>
      val (x, y) = (rng.nextInt(65536).toLong, rng.nextInt(65536).toLong)
      assert(graft.sources.ZCurve.deinterleave(graft.sources.ZCurve.z(x, y)) === ((x, y)))
    }
    // exactness: with no floor and no budget, the ranges are EXACTLY the
    // box's z set (checked point-by-point on small random boxes)
    (0 until 20).foreach { _ =>
      val x0 = rng.nextInt(65500).toLong; val x1 = x0 + rng.nextInt(24)
      val y0 = rng.nextInt(65500).toLong; val y1 = y0 + rng.nextInt(24)
      val rs = graft.sources.ZCurve.ranges(x0, x1, y0, y1, floorBits = 0, maxRanges = Int.MaxValue)
      val want = (for (x <- x0 to x1; y <- y0 to y1) yield graft.sources.ZCurve.z(x, y)).toSet
      val got = rs.flatMap { case (a, b) => a to b }.toSet
      assert(got === want, s"box [$x0,$x1]x[$y0,$y1]")
      assert(rs === rs.sortBy(_._1) && rs.sliding(2).forall {
        case Vector(a, b) => b._1 > a._2 + 1; case _ => true
      }, "ranges must be sorted, disjoint, maximally merged")
    }
    // soundness under defaults: cover ⊇ box, ≤ maxRanges ranges, sorted
    (0 until 20).foreach { _ =>
      val x0 = rng.nextInt(60000).toLong; val x1 = x0 + rng.nextInt(8000)
      val y0 = rng.nextInt(60000).toLong; val y1 = y0 + rng.nextInt(8000)
      val rs = graft.sources.ZCurve.ranges(x0, x1, y0, y1)
      assert(rs.nonEmpty && rs.size <= 32)
      (0 until 200).foreach { _ =>
        val x = x0 + (rng.nextLong().abs % (x1 - x0 + 1))
        val y = y0 + (rng.nextLong().abs % (y1 - y0 + 1))
        val zv = graft.sources.ZCurve.z(x, y)
        assert(rs.exists { case (a, b) => zv >= a && zv <= b }, s"($x,$y) escaped the cover")
      }
    }
  }

  test("zBoxQuery: z-range pushdown answers a 2-D box exactly and skips most files") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_zbox").toString
    val events = telemetry
    Layout.writeTelemetryZOrdered(events, dir)
    val (tLo, tHi) = {
      val r = events.agg(min(unix_micros(col("timestamp"))), max(unix_micros(col("timestamp")))).head()
      val (a, b) = (r.getLong(0), r.getLong(1))
      (a + (b - a) * 2 / 5, a + (b - a) * 3 / 5)
    }
    val got = Layout.zBoxQuery(spark, dir, 5L, 9L, tLo, tHi)
    val want = events.filter(
      col("timeseries_id").cast("long").between(5, 9) && unix_micros(col("timestamp")).between(tLo, tHi))
    assert(rowsOf(got) === rowsOf(want))
    assert(got.columns.toSet === events.columns.toSet, "z must not leak into results")
    // the OR-of-z-ranges reaches the parquet scan as pushed filters
    val scan = scanOf(Layout.zBoxQuery(spark, dir, 5L, 9L, tLo, tHi))
    assert(scan.metadata("PushedFilters").contains("z"),
      s"z ranges must push down, got ${scan.metadata("PushedFilters")}")
    // file-level skipping: candidate files (z stats overlapping any range)
    // are a strict minority of the 16
    val zr = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("z").as("z0"), max("z").as("z1")).collect()
    // recompute the ranges the query used, via the same public pieces
    val txt = scala.io.Source.fromFile(s"$dir/${Layout.ZBoundsFile}").mkString
    def f(k: String) = s""""$k":(-?\\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
    def quant(v: Long, lo: Long, hi: Long) =
      math.floor((v - lo).toDouble / math.max(hi - lo, 1L).toDouble * 65535.0).toLong
    val rs = graft.sources.ZCurve.ranges(
      quant(math.max(5L, f("s0")), f("s0"), f("s1")),
      quant(math.min(9L, f("s1")), f("s0"), f("s1")),
      quant(math.max(tLo, f("t0")), f("t0"), f("t1")),
      quant(math.min(tHi, f("t1")), f("t0"), f("t1")))
    val candidates = zr.count { r =>
      val (z0, z1) = (r.getAs[Long]("z0"), r.getAs[Long]("z1"))
      rs.exists { case (a, b) => z1 >= a && z0 <= b }
    }
    assert(candidates < zr.length,
      s"z ranges must skip at least one of ${zr.length} files")
    assert(candidates <= (zr.length * 3) / 4,
      s"expected a minority of files as candidates, got $candidates/${zr.length}")
    // a probe entirely outside the written domain returns nothing — with
    // the SAME schema as the hit path (no z leak on the early return)
    val miss = Layout.zBoxQuery(spark, dir, 1000L, 2000L, tLo, tHi)
    assert(miss.count() === 0L)
    assert(miss.columns.toSet === got.columns.toSet)
    // a series id that is not a long (a UUID) has no z coordinate: the
    // write fails naming the precondition instead of writing a null z
    val uuid = java.nio.file.Files.createTempDirectory("graft_zuuid").toString
    val e = intercept[IllegalArgumentException] {
      Layout.writeTelemetryZOrdered(
        events.withColumn("timeseries_id",
          when(col("timeseries_id") === "7", lit("6f1c2a4e-uuid")).otherwise(col("timeseries_id"))),
        uuid)
    }
    assert(e.getMessage.contains("cast to long"), e.getMessage)
  }

  test("q_layout_zorder: the z layout opens far fewer files than the date sort on the 2-D probe") {
    val out = Registry.byName("q_layout_zorder").fn(spark, sfDir).collect()
    def scanned(layout: String) =
      out.count(r => r.getAs[String]("layout") == layout && r.getAs[Boolean]("scan_needed"))
    val (z, lin) = (scanned("zorder"), scanned("linear"))
    // with 256 buckets, a 1/8-of-each-dim conjunctive probe touches ~4 z
    // tiles but ~32 date-range files (the date sort cannot prune on
    // partkey at all) — require at least a 2x win with headroom for
    // partially-filled edge buckets at the tiny driver scale
    assert(z > 0, "probe must hit at least one z tile")
    assert(z * 2 <= lin, s"zorder scanned $z buckets, linear $lin — no skipping win")
  }
}
