package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}
import scala.jdk.CollectionConverters._

/** The engine's one stored-table reader: a parquet table's schema comes
  * from one footer, read on the driver, and is passed with `.schema(...)`,
  * so building the DataFrame runs no Spark job. `read.parquet(dir)`
  * without a schema runs one inference job per call, and that job reads
  * one footer anyway (`mergeSchema` is off): every file of a table comes
  * from the same writer with the same schema. Spark still discovers the
  * partition columns, with the types and order inference gives them.
  */
object Tables {

  /** `path` (one parquet file, or a directory of them, partitioned or
    * not) with the schema of its first data file's footer; fails naming
    * `path` when it is absent or holds no data file. Upstream testdata has
    * stored timestamps as int64 TIMESTAMP(NANOS) (through round 7) and as
    * NTZ micros (from round 8), so when the footer holds either encoding
    * ([[foreignTimestamps]]) nanos read as raw int64 and NTZ as
    * session-UTC instants, and [[graft.U.events]] branches on the observed
    * dtype (the r8 failure: one regen broke 63 queries at analysis). The
    * settings stay on the session: the scan reads them too. Spark writes
    * a `TimestampType` column in neither encoding, so reading the tables
    * the engine writes leaves the session as it was.
    */
  def read(s: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val first = Some(p).filter(fs.exists).flatMap(q => firstFile(fs, fs.getFileStatus(q)))
      .getOrElse(throw new IllegalStateException(s"no parquet data file at $path"))
    val f = footer(s, first)
    // before the conversion: the converter reads both settings
    if (foreignTimestamps(f)) {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    }
    readWith(s, path, f)
  }

  /** Does `f` hold a timestamp column Spark does not write for a
    * `TimestampType`: an INT64 `TIMESTAMP(NANOS)`, or a
    * `TIMESTAMP(isAdjustedToUTC=false)`? */
  private def foreignTimestamps(f: Footer): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    f.getParquetMetadata.getFileMetaData.getSchema.getColumns.asScala.exists { c =>
      c.getPrimitiveType.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS || !t.isAdjustedToUTC
        case _ => false
      }
    }
  }

  /** [[read]] of `path`, None when `path` does not exist: only "no table
    * yet" is None, a failed read of one that exists propagates. */
  def find(s: SparkSession, path: String): Option[DataFrame] = {
    val p = new Path(path)
    if (p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)) Some(read(s, path)) else None
  }

  /** `path` read with the schema of `f`, one footer of its files, plus
    * `partitions`, partition columns whose type the caller pins. */
  def readWith(s: SparkSession, path: String, f: Footer, partitions: StructField*): DataFrame =
    s.read.schema(StructType(schema(s, f).fields ++ partitions)).parquet(path)

  /** Names Spark's file index hides: `_` (unless a `key=value`
    * partition directory) and `.` prefixes. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** `st` if a file, else the first data file under it, depth-first in
    * name order. */
  private def firstFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (st.isFile) Some(st)
    else fs.listStatus(st.getPath).sortBy(_.getPath.getName).iterator
      .filterNot(c => hidden(c.getPath.getName))
      .flatMap(firstFile(fs, _))
      .nextOption()

  /** Parquet data files directly under `dir`, skipping the names Spark's
    * file index hides. */
  def files(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter(st => st.isFile && !hidden(st.getPath.getName))

  /** The footer of parquet file `f`, read on the driver. */
  def footer(s: SparkSession, f: FileStatus): Footer = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(f, s.sparkContext.hadoopConfiguration))
    try new Footer(f.getPath, r.getFooter) finally r.close()
  }

  /** The Spark schema of one footer, converted as Spark's inference
    * converts it (the writer's schema string, else the parquet types). */
  def schema(s: SparkSession, f: Footer): StructType =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .readSchemaFromFooter(f,
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(s.sessionState.conf))

  /** A superset of the dates `column` holds in `footers`, as disjoint
    * inclusive ranges merged from every row group's min/max statistics.
    * A row group whose statistics show only nulls adds no range. None
    * when some row group has no usable statistics for the column: the
    * caller must then treat every date as touched.
    */
  def dateRanges(
      footers: Seq[Footer],
      column: String): Option[Seq[(java.time.LocalDate, java.time.LocalDate)]] = {
    import org.apache.parquet.column.statistics.IntStatistics
    val blocks = footers.flatMap(_.getParquetMetadata.getBlocks.asScala).map { b =>
      b -> b.getColumns.asScala.find(_.getPath.toDotString == column).map(_.getStatistics)
    }
    val usable = blocks.forall {
      case (_, Some(st: IntStatistics)) if st.hasNonNullValue => true
      case (b, Some(st)) => st.isNumNullsSet && st.getNumNulls == b.getRowCount
      case _ => false
    }
    if (!usable) None
    else Some(
      blocks
        .collect { case (_, Some(st: IntStatistics)) if st.hasNonNullValue =>
          (st.getMin, st.getMax) }
        .sorted
        .foldLeft(List.empty[(Int, Int)]) {
          case ((lo, hi) :: done, (a, b)) if a <= hi + 1 => (lo, math.max(hi, b)) :: done
          case (done, r) => r :: done
        }
        .reverse
        .map { case (lo, hi) =>
          (java.time.LocalDate.ofEpochDay(lo), java.time.LocalDate.ofEpochDay(hi)) })
  }
}
