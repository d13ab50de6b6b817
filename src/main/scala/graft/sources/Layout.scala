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

  /** The key of the reference's one telemetry table, (series, ts): every
    * layout of this module and every store of `Streams` is written and
    * read by it, and [[upsertPartition]] merges by it, so a landing and a
    * read can never disagree on it. */
  object TelemetryKey {
    val SeriesCol = "timeseries_id"
    val TsCol = "timestamp"
  }

  import TelemetryKey.{SeriesCol, TsCol}

  /** Day-partitioned parquet, rows within each file sorted by
    * (series, time) so min/max row-group stats make series predicates
    * selective. The standard time-series layout: time prunes directories,
    * series prunes row groups.
    */
  def writeTelemetry(df: DataFrame, outDir: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.withColumn("event_date", to_date(col(TsCol)))
      .repartition(col("event_date"))
      .sortWithinPartitions(col("event_date"), col(SeriesCol), col(TsCol))
      .write
      .mode(mode)
      .partitionBy("event_date")
      .parquet(outDir)

  /** Same layout as a bucketed table (hash buckets on the series key) for
    * shuffle-free series joins/aggregations; requires the session catalog
    * (bucketing metadata lives in the metastore, not the files).
    */
  def writeTelemetryBucketed(df: DataFrame, table: String, nBuckets: Int): Unit =
    df.withColumn("event_date", to_date(col(TsCol)))
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy("event_date")
      .bucketBy(nBuckets, SeriesCol)
      .sortBy(SeriesCol, TsCol)
      .saveAsTable(table)

  /** Files of a z-ordered layout. */
  private val ZFiles = 16

  /** The z layout's series coordinate: the series id as a long, null when
    * it is not one ([[writeTelemetryZOrdered]] refuses such ids). */
  private def seriesLong: Column = col(SeriesCol).try_cast("long")

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
    * The series coordinate is the series id cast to long: an id that does
    * not cast (a UUID, say) fails the write, naming this precondition.
    * Normalization bounds come from one 1-row aggregate, which also counts
    * those ids; the write is one range exchange on the z-value (the sort
    * the layout exists to buy) into [[ZFiles]] files. The Morton code is
    * kept as column `z` and the quantization bounds as a `_zbounds.json`
    * sidecar, which [[zBoxQuery]] reads: 2-D box reads then push 1-D z
    * ranges to the scan instead of relying on per-file natural-column
    * stats alone. The write always overwrites `outDir`: z codes are
    * quantized against whole-dataset bounds, so an append would mix z
    * domains; append into the day-partitioned layout and re-run this
    * writer instead.
    */
  def writeTelemetryZOrdered(df: DataFrame, outDir: String): Unit = {
    val tLong = unix_micros(col(TsCol))
    // One bounded 1-row collect BEFORE the write job: the sidecar bounds
    // are then definitionally the bounds the persisted z codes used (a
    // second post-write aggregate could see files that arrived in
    // between), and the quantizers ride as literals — no broadcast join.
    val b = df.agg(
      min(seriesLong).as("_s0"), max(seriesLong).as("_s1"),
      min(tLong).as("_t0"), max(tLong).as("_t1"),
      count_if(col(SeriesCol).isNotNull && seriesLong.isNull).as("_bad")).head()
    require(b.getLong(4) == 0L,
      s"z-ordered layout needs every non-null $SeriesCol to cast to long; " +
        s"${b.getLong(4)} do not")
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
    df.withColumn("z", graft.ops.LayoutOps.zValue(norm(seriesLong, s0, s1), norm(tLong, t0, t1)))
      .repartitionByRange(ZFiles, col("z"))
      .sortWithinPartitions("z")
      .write.mode(SaveMode.Overwrite).parquet(outDir)
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
    * z-ordered layout as ONE-dimensional z ranges: quantize the
    * probe box with the write-time bounds (same IEEE divide-then-multiply
    * as the writer, so the mapping is the writer's exactly), decompose it
    * into ≤ 32 z intervals ([[ZCurve.ranges]]), and push the OR
    * of BETWEENs down to the parquet scan — row-group stats on the single
    * sorted z column skip everything outside the intervals. The exact box
    * predicate is re-applied on the survivors, so the cover's slop
    * (floor cells + gap coalescing) never leaks a row. The reference scans
    * every row for ANY predicate (`main.rs:126-137`); this reads
    * O(box ∩ curve) row groups no matter the table size, and the range
    * PLANNING is O(ranges) driver work, data-size-independent.
    */
  def zBoxQuery(
      spark: SparkSession,
      dir: String,
      seriesLo: Long, seriesHi: Long,
      tsLoUs: Long, tsHiUs: Long): DataFrame = {
    val txt = readSidecar(spark, s"$dir/$ZBoundsFile")
    def field(name: String): Long =
      s""""$name":(-?\\d+)""".r.findFirstMatchIn(txt)
        .getOrElse(throw new IllegalStateException(s"$ZBoundsFile missing $name"))
        .group(1).toLong
    val (s0, s1, t0, t1) = (field("s0"), field("s1"), field("t0"), field("t1"))
    val data = Tables.read(spark, dir)
    val exact = seriesLong.between(seriesLo, seriesHi) &&
      unix_micros(col(TsCol)).between(tsLoUs, tsHiUs)
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
      clamp(quant(math.min(tsHiUs, t1), t0, t1)))
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
    * [[compactPartition]] and by [[upsertPartition]]. */
  private val TargetFileBytes: Long = 128L * 1024 * 1024

  /** Files for `bytes` of partition data at [[TargetFileBytes]] each, at
    * least one. */
  private def filesFor(bytes: BigInt): Int =
    ((bytes + TargetFileBytes - 1) / TargetFileBytes).max(1).min(Int.MaxValue).toInt

  /** The one rewrite of a date partition's contents, through
    * [[swapPartition]]: the live files (their schema from one footer),
    * with the rows of `updates` replacing the live rows of their
    * [[TelemetryKey]] when given, coalesced with no shuffle to one file
    * per [[TargetFileBytes]] of the live files plus the updates' plan-size
    * estimate ([[filesFor]]), sorted by the key. Returns the number of
    * live data files it read ([[Tables.files]]).
    */
  private def rewritePartition(
      spark: SparkSession,
      rootDir: String,
      eventDate: String,
      updates: Option[DataFrame]): Int =
    swapPartition(spark, rootDir, eventDate) { (fs, path, tmp) =>
      val liveFiles = if (fs.exists(path)) Some(Tables.files(fs, path)) else None
      val live = liveFiles.map { files =>
        val first = files.headOption.getOrElse(
          throw new IllegalStateException(s"rewrite: no parquet file under $path"))
        Tables.readWith(spark, path.toString, Tables.footer(spark, first))
      }
      val merged = (live, updates) match {
        case (Some(l), Some(u)) =>
          l.join(broadcast(u.select(col(SeriesCol), col(TsCol))), Seq(SeriesCol, TsCol), "left_anti")
            .unionByName(u.select(l.columns.toIndexedSeq.map(col): _*))
        case (Some(l), None) => l
        case (None, Some(u)) => u
        case (None, None) => throw new IllegalStateException(s"rewrite: no partition at $path")
      }
      val bytes = liveFiles.fold(0L)(_.map(_.getLen).sum) +
        updates.fold(BigInt(0))(_.queryExecution.optimizedPlan.stats.sizeInBytes)
      merged
        .coalesce(filesFor(bytes))
        .sortWithinPartitions(col(SeriesCol), col(TsCol))
        .write
        .mode(SaveMode.Overwrite)
        .parquet(tmp)
      liveFiles.fold(0)(_.length)
    }

  /** Compact one date partition in place: streaming ingest appends a file
    * per micro-batch per partition, and at 100 TB the accumulated small
    * files dominate scan setup cost (footer reads, task scheduling).
    * [[rewritePartition]] with no updates: ~[[TargetFileBytes]] files,
    * the (series, time) sort restored so row-group pruning keeps working.
    * Embarrassingly parallel across dates; each date is one independent
    * rewrite, the same unit the reference rewrote on *every insert*
    * (`main.rs:101`).
    *
    * Returns (filesBefore, filesAfter), counting the data files
    * [[Tables.files]] lists.
    */
  def compactPartition(spark: SparkSession, rootDir: String, eventDate: String): (Int, Int) = {
    val before = rewritePartition(spark, rootDir, eventDate, None)
    val (path, _, _) = swapPaths(rootDir, eventDate)
    (before, Tables.files(path.getFileSystem(spark.sparkContext.hadoopConfiguration), path).length)
  }

  /** Merge `updates` (rows of ONE event date, WITHOUT the event_date
    * column) into that date's partition with upsert semantics: live rows
    * whose (series, ts) key ([[TelemetryKey]])
    * appears in the batch are replaced, all other live rows survive, new
    * keys append. The rewrite is [[rewritePartition]]'s, so a
    * complete copy of the data exists at every instant. IDEMPOTENT:
    * re-merging identical updates replaces rows with identical rows —
    * the property `Streams.upsertSink`
    * relies on to make at-least-once `foreachBatch` delivery exactly-once
    * in effect.
    *
    * Scale: the batch keys are one micro-batch's worth — broadcast to the
    * anti-join, so the live partition scans once with no shuffle; each
    * affected date is an independent rewrite (same unit of work as
    * compaction), embarrassingly parallel across dates. Left to the plan,
    * a rewrite would write one file per scan split plus one per slice of
    * the updates (8 for a 3 k-row date on 4 cores), and every later read
    * would open them all; [[rewritePartition]] coalesces it instead.
    */
  def upsertPartition(
      spark: SparkSession,
      rootDir: String,
      eventDate: String,
      updates: DataFrame): Unit =
    rewritePartition(spark, rootDir, eventDate, Some(updates))

  /** R2, the reference's range query (`main.rs:119-139`), over a
    * day-partitioned telemetry table (`Tables.read` of a layout,
    * `Streams.upsertRead` of a store): one series over an inclusive time
    * range. The date bounds prune partition directories
    * (PartitionFilters), the series equality and exact time range prune
    * row groups (PushedFilters). Installs [[ParamLiterals]] into the
    * table's session, so a warm query with a new key or range compiles
    * nothing. */
  def rangeQuery(table: DataFrame, seriesId: String, from: String, to: String): DataFrame = {
    ParamLiterals.install(table.sparkSession)
    val (f, t) = (lit(from), lit(to))
    table.filter(col("event_date").between(to_date(f), to_date(t)) &&
      col(SeriesCol) === seriesId &&
      col(TsCol).between(f.cast("timestamp"), t.cast("timestamp")))
  }
}
