package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Storage layout for telemetry at 100 TB (SURVEY.md §1.3): replaces the
  * reference's single flat file with full rewrite per insert
  * (`rusty_timeseries/src/main.rs:230,81-90`) with a partitioned, optionally
  * bucketed Parquet dataset that the reference's two access patterns prune:
  *
  *   - **time-range scans** (R2, `main.rs:119-139`) prune on the
  *     `event_date` partition directory — a 7-day query over 10 years of
  *     telemetry touches 7/3650 of the files before any row is read;
  *   - **per-series access** (R2's equality, R5's per-series fault scan)
  *     prunes with parquet row-group stats on the sorted-within-file series
  *     key, or hash-bucket files when written as a bucketed table.
  *
  * Appends are new files in the partition dir (no rewrite); compaction is a
  * per-partition rewrite, embarrassingly parallel across dates.
  */
object Layout {

  /** The telemetry key, (series, ts): every store of `Streams` is
    * written and read by it, and [[upsertPartition]] merges by it, so a
    * landing and a read can never disagree on it. */
  object TelemetryKey {
    val SeriesCol = "timeseries_id"
    val TsCol = "timestamp"
  }

  /** Day-partitioned parquet, rows within each file sorted by
    * (series, time) so min/max row-group stats make series predicates
    * selective. The standard time-series layout: time prunes directories,
    * series prunes row groups.
    */
  def writeTelemetry(
      df: DataFrame,
      outDir: String,
      tsCol: String = "ts",
      seriesCol: String = "user_id",
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.withColumn("event_date", to_date(col(tsCol)))
      .repartition(col("event_date"))
      .sortWithinPartitions(col("event_date"), col(seriesCol), col(tsCol))
      .write
      .mode(mode)
      .partitionBy("event_date")
      .parquet(outDir)

  /** Same layout as a bucketed table (hash buckets on the series key) for
    * shuffle-free series joins/aggregations; requires the session catalog
    * (bucketing metadata lives in the metastore, not the files).
    */
  def writeTelemetryBucketed(
      df: DataFrame,
      table: String,
      nBuckets: Int,
      tsCol: String = "ts",
      seriesCol: String = "user_id"): Unit =
    df.withColumn("event_date", to_date(col(tsCol)))
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy("event_date")
      .bucketBy(nBuckets, seriesCol)
      .sortBy(seriesCol, tsCol)
      .saveAsTable(table)

  /** Bit-interleave of two 16-bit keys into a 32-bit Morton (Z-curve)
    * value: bit k of `a` lands at position 2k, bit k of `b` at 2k+1. A
    * pure Column expression tree (32 shift/mask/add terms) — codegen'd,
    * no UDF.
    */
  private def interleave16(a: Column, b: Column): Column =
    graft.ops.LayoutOps.zValue(a, b)

  /** Z-order (Morton-curve) clustered parquet: rows are range-partitioned
    * and sorted by the bit-interleave of the min-max-normalized (series,
    * time) pair, so EVERY file covers a small rectangle of the
    * (series, time) plane and min/max file stats stay tight on BOTH
    * columns. The lexicographic (series, time) sort of [[writeTelemetry]]
    * prunes only on its leading column — a time-band query with no series
    * key touches every file; Z-order trades a little of the leading
    * column's locality for file-level pruning on either dimension
    * (~sqrt(n) of files per 1-D probe on a 2-D curve). The technique
    * behind Delta/Iceberg OPTIMIZE ZORDER, as a plain-parquet writer.
    *
    * Normalization bounds come from one 1-row aggregate broadcast; the
    * write is one range exchange on the z-value (the sort the layout
    * exists to buy). With `keepZ` the Morton code is persisted as column
    * `z` (and the quantization bounds as a `_zbounds.json` sidecar), which
    * [[zBoxQuery]] requires: 2-D box reads then push 1-D z ranges to the
    * scan instead of relying on per-file natural-column stats alone.
    */
  def writeTelemetryZOrdered(
      df: DataFrame,
      outDir: String,
      seriesCol: String = "user_id",
      tsCol: String = "ts",
      nFiles: Int = 16,
      mode: SaveMode = SaveMode.Overwrite,
      keepZ: Boolean = false): Unit = {
    // Append would mix z codes computed under DIFFERENT quantization
    // domains (and clobber the bounds sidecar), silently breaking
    // zBoxQuery's pushdown for the older files. A z layout is a global
    // recluster by construction — append into the day-partitioned layout
    // and re-run this writer (or compact) instead.
    require(mode != SaveMode.Append,
      "z-ordered layout cannot be appended to: z codes are quantized " +
        "against whole-dataset bounds; rewrite the layout instead")
    val sLong = col(seriesCol).cast("long")
    val tLong = unix_micros(col(tsCol))
    // One bounded 1-row collect BEFORE the write job: the sidecar bounds
    // are then definitionally the bounds the persisted z codes used (a
    // second post-write aggregate could see files that arrived in
    // between), and the quantizers ride as literals — no broadcast join.
    val b = df.agg(
      min(sLong).as("_s0"), max(sLong).as("_s1"),
      min(tLong).as("_t0"), max(tLong).as("_t1")).head()
    val empty = b.isNullAt(0)
    val (s0, s1, t0, t1) =
      if (empty) (0L, 0L, 0L, 0L)
      else (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    // Divide BEFORE multiplying: (x - lo) * 65535 exceeds 2^53 for
    // epoch-microsecond spans over ~4 years, where double drops low bits
    // and cell-boundary rows land one bucket off. The ratio is in [0, 1]
    // exactly at the endpoints, so the product stays within [0, 65535].
    def norm(x: Column, lo: Long, hi: Long): Column =
      floor((x - lit(lo)) / lit(math.max(hi - lo, 1L)) * 65535.0).cast("long")
    val zd = df
      .withColumn("_zval", interleave16(norm(sLong, s0, s1), norm(tLong, t0, t1)))
      .repartitionByRange(nFiles, col("_zval"))
      .sortWithinPartitions("_zval")
    val cleaned =
      if (keepZ) zd.withColumnRenamed("_zval", "z") else zd.drop("_zval")
    cleaned.write.mode(mode).parquet(outDir)
    // Quantization bounds sidecar (underscore-prefixed → invisible to
    // parquet listing): [[zBoxQuery]] must quantize its probe box with the
    // write-time domain, not the current data's.
    writeSidecar(
      df.sparkSession, s"$outDir/$ZBoundsFile",
      s"""{"s0":$s0,"s1":$s1,"t0":$t0,"t1":$t1}""")
  }

  val ZBoundsFile = "_zbounds.json"

  private def writeSidecar(spark: SparkSession, path: String, text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8"))
    finally out.close()
  }

  private def readSidecar(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](4096)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
  }

  /** Serve a 2-D box predicate (series range × time range) from a
    * z-ordered, z-kept layout as ONE-dimensional z ranges: quantize the
    * probe box with the write-time bounds (same IEEE divide-then-multiply
    * as the writer, so the mapping is the writer's exactly), decompose it
    * into ≤ `maxRanges` z intervals ([[ZCurve.ranges]]), and push the OR
    * of BETWEENs down to the parquet scan — row-group stats on the single
    * sorted z column skip everything outside the intervals. The exact box
    * predicate is re-applied on the survivors, so the cover's slop
    * (floor cells + gap coalescing) never leaks a row. The reference scans
    * every row for ANY predicate (`main.rs:126-137`); this reads
    * O(box ∩ curve) row groups no matter the table size, and the range
    * PLANNING is O(maxRanges) driver work, data-size-independent.
    */
  def zBoxQuery(
      spark: SparkSession,
      dir: String,
      seriesLo: Long, seriesHi: Long,
      tsLoUs: Long, tsHiUs: Long,
      seriesCol: String = "user_id",
      tsCol: String = "ts",
      maxRanges: Int = 32): DataFrame = {
    val txt = readSidecar(spark, s"$dir/$ZBoundsFile")
    def field(k: String): Long =
      s""""$k":(-?\\d+)""".r.findFirstMatchIn(txt)
        .getOrElse(throw new IllegalStateException(s"$ZBoundsFile missing $k"))
        .group(1).toLong
    val (s0, s1, t0, t1) = (field("s0"), field("s1"), field("t0"), field("t1"))
    val data = Tables.read(spark, dir)
    if (!data.columns.contains("z"))
      throw new IllegalStateException(
        s"$dir has no z column: write it with writeTelemetryZOrdered(..., keepZ = true)")
    val exact = col(seriesCol).cast("long").between(seriesLo, seriesHi) &&
      unix_micros(col(tsCol)).between(tsLoUs, tsHiUs)
    // writer quantization: floor((v - lo) / max(hi - lo, 1) * 65535.0) —
    // monotone, so an inclusive value box maps to an inclusive quant box
    def quant(v: Long, lo: Long, hi: Long): Long =
      math.floor((v - lo).toDouble / math.max(hi - lo, 1L).toDouble * 65535.0).toLong
    def clamp(v: Long) = math.max(0L, math.min(65535L, v))
    if (seriesHi < s0 || seriesLo > s1 || tsHiUs < t0 || tsLoUs > t1)
      return data.filter(lit(false)).drop("z")
    val zr = ZCurve.ranges(
      clamp(quant(math.max(seriesLo, s0), s0, s1)),
      clamp(quant(math.min(seriesHi, s1), s0, s1)),
      clamp(quant(math.max(tsLoUs, t0), t0, t1)),
      clamp(quant(math.min(tsHiUs, t1), t0, t1)),
      maxRanges = maxRanges)
    val zPred = zr.map { case (lo, hi) => col("z").between(lo, hi) }
      .reduceOption(_ || _).getOrElse(lit(false))
    data.filter(zPred && exact).drop("z")
  }

  private def swapPaths(rootDir: String, eventDate: String) = (
    new org.apache.hadoop.fs.Path(s"$rootDir/event_date=$eventDate"),
    new org.apache.hadoop.fs.Path(s"$rootDir/.compact_tmp_event_date=$eventDate"),
    new org.apache.hadoop.fs.Path(s"$rootDir/.compact_old_event_date=$eventDate"))

  /** Heal a partition left mid-swap by a crashed [[swapPartition]].
    * The swap's invariant is that a complete copy of the data always exists
    * under exactly one of (live, old): a crash in the window between the two
    * renames leaves live MISSING and the data in `.compact_old_...`. Rolls
    * that rename back (and drops the unreferenced tmp dir); after a crash
    * anywhere else the live dir is intact and only stale side dirs need
    * sweeping. Returns true iff a rollback was performed. Idempotent; also
    * invoked at the start of every swap, so a crashed compaction or upsert
    * self-heals on retry.
    */
  def recoverPartition(
      spark: SparkSession,
      rootDir: String,
      eventDate: String): Boolean = {
    val (path, tmpPath, oldPath) = swapPaths(rootDir, eventDate)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path.toString), spark.sparkContext.hadoopConfiguration)
    val rolledBack =
      if (!fs.exists(path) && fs.exists(oldPath)) {
        if (!fs.rename(oldPath, path))
          throw new java.io.IOException(s"recover: failed to restore $oldPath")
        true
      } else {
        // live dir intact: any old copy is stale (crash after the second
        // rename, before cleanup) and safe to drop
        fs.delete(oldPath, true)
        false
      }
    fs.delete(tmpPath, true) // tmp output is never the only copy
    rolledBack
  }

  /** The one rewrite of a date partition: heal a crashed previous swap
    * ([[recoverPartition]]) FIRST, so the live dir holds the data before
    * anything reads it; `write(fs, live, tmp)` writes the new contents to
    * the tmp dir (reading the live dir if it needs to); then the live dir
    * moves aside, tmp is installed, and the old copy is dropped. Each
    * rename is checked, and a failed install renames the old copy back,
    * so a crash anywhere leaves a complete copy under exactly one of
    * (live, old) — never deleted-before-replaced. True atomicity for
    * concurrent readers during the swap window needs a transactional table
    * format (Delta/Iceberg); this is the best a bare-parquet layout can do.
    */
  private def swapPartition[A](
      spark: SparkSession,
      rootDir: String,
      eventDate: String)(
      write: (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path, String) => A): A = {
    recoverPartition(spark, rootDir, eventDate)
    val (path, tmpPath, oldPath) = swapPaths(rootDir, eventDate)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path.toString), spark.sparkContext.hadoopConfiguration)
    val hadLive = fs.exists(path)
    val out = write(fs, path, tmpPath.toString)
    if (hadLive && !fs.rename(path, oldPath))
      throw new java.io.IOException(s"swap: failed to move $path aside")
    if (!fs.rename(tmpPath, path)) {
      if (hadLive) fs.rename(oldPath, path) // roll back: stay readable
      throw new java.io.IOException(s"swap: failed to install $tmpPath")
    }
    fs.delete(oldPath, true)
    out
  }

  /** Bytes per file when a date partition is rewritten whole, by
    * [[compactPartition]] (its default) and by [[upsertPartition]]. */
  private val TargetFileBytes: Long = 128L * 1024 * 1024

  /** Files for `bytes` of partition data at `target` bytes each, at least
    * one. */
  private def filesFor(bytes: BigInt, target: Long = TargetFileBytes): Int =
    ((bytes + target - 1) / target).max(1).min(Int.MaxValue).toInt

  /** Compact one date partition in place: streaming ingest appends a file
    * per micro-batch per partition, and at 100 TB the accumulated small
    * files dominate scan setup cost (footer reads, task scheduling).
    * Rewrites the partition dir to ~`targetFileBytes` files through
    * [[swapPartition]], restoring the (series, time) sort so row-group
    * pruning keeps working. Embarrassingly parallel across dates; each
    * date is one independent rewrite, the same unit the reference rewrote
    * on *every insert* (`main.rs:101`).
    *
    * Returns (filesBefore, filesAfter), counting the data files
    * [[Tables.files]] lists.
    */
  def compactPartition(
      spark: SparkSession,
      rootDir: String,
      eventDate: String,
      targetFileBytes: Long = TargetFileBytes,
      seriesCol: String = "user_id",
      tsCol: String = "ts"): (Int, Int) = {
    val before = swapPartition(spark, rootDir, eventDate) { (fs, path, tmp) =>
      val before = Tables.files(fs, path)
      Tables.read(spark, path.toString)
        .repartition(filesFor(before.map(_.getLen).sum, targetFileBytes))
        .sortWithinPartitions(col(seriesCol), col(tsCol))
        .write.mode(SaveMode.Overwrite).parquet(tmp)
      before.length
    }
    val (path, _, _) = swapPaths(rootDir, eventDate)
    (before, Tables.files(path.getFileSystem(spark.sparkContext.hadoopConfiguration), path).length)
  }

  /** Merge `updates` (rows of ONE event date, WITHOUT the event_date
    * column) into that date's partition with upsert semantics: live rows
    * whose (series, ts) key ([[TelemetryKey]])
    * appears in the batch are replaced, all other live rows survive, new
    * keys append. The rewrite goes through [[swapPartition]], so a
    * complete copy of the data exists at every instant. IDEMPOTENT:
    * re-merging identical updates replaces rows with identical rows —
    * the property `Streams.upsertSink`
    * relies on to make at-least-once `foreachBatch` delivery exactly-once
    * in effect.
    *
    * Scale: the batch keys are one micro-batch's worth — broadcast to the
    * anti-join, so the live partition scans once with no shuffle; each
    * affected date is an independent rewrite (same unit of work as
    * compaction), embarrassingly parallel across dates. The rewrite is
    * coalesced, with no shuffle, to one file per [[TargetFileBytes]] of
    * the live files plus the updates' plan-size estimate ([[filesFor]]),
    * as [[compactPartition]] sizes its files. Left to the plan, a rewrite
    * writes one file per scan split plus one per slice of the updates (8
    * for a 3 k-row date on 4 cores), and every later read opens them all.
    */
  def upsertPartition(
      spark: SparkSession,
      rootDir: String,
      eventDate: String,
      updates: DataFrame): Unit =
    swapPartition(spark, rootDir, eventDate) { (fs, path, tmp) =>
      import TelemetryKey.{SeriesCol, TsCol}
      val (merged, liveBytes) =
        if (fs.exists(path)) {
          // schema from one footer, not an inference job per merged date
          val liveFiles = Tables.files(fs, path)
          val first = liveFiles.headOption.getOrElse(
            throw new IllegalStateException(s"upsert: no parquet file under $path"))
          val live = Tables.readWith(spark, path.toString, Tables.footer(spark, first))
          (live
            .join(
              broadcast(updates.select(col(SeriesCol), col(TsCol))),
              Seq(SeriesCol, TsCol),
              "left_anti")
            .unionByName(updates.select(live.columns.toIndexedSeq.map(col): _*)),
            liveFiles.map(_.getLen).sum)
        } else (updates, 0L)
      val files = filesFor(liveBytes + updates.queryExecution.optimizedPlan.stats.sizeInBytes)
      merged
        .coalesce(files)
        .sortWithinPartitions(col(SeriesCol), col(TsCol))
        .write
        .mode(SaveMode.Overwrite)
        .parquet(tmp)
    }

  /** R2 over the partitioned layout: the date bounds prune partition
    * directories (PartitionFilters), the series equality + exact time range
    * prune row groups (PushedFilters). Installs [[ParamLiterals]] into
    * `spark`, so a warm query with a new key or range compiles nothing. */
  def rangeQuery(
      spark: SparkSession,
      dir: String,
      seriesKey: Long,
      startTs: String,
      endTs: String): DataFrame = {
    ParamLiterals.install(spark)
    Tables.read(spark, dir)
      .filter(
        col("event_date").between(to_date(lit(startTs)), to_date(lit(endTs))) &&
          col("user_id") === seriesKey &&
          col("ts").between(
            lit(startTs).cast("timestamp"), lit(endTs).cast("timestamp")))
  }
}
