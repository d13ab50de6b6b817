package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The first 32 bits of md5(input) as an unsigned value in a LongType —
  * bit-identical to `conv(substr(md5(x), 1, 8), 16, 10)` (the first 8 hex
  * chars ARE the first 4 digest bytes, big-endian) but without
  * materializing the 32-char hex string or parsing it back. md5 — not
  * xxhash — because it is the one hash the DuckDB oracle computes
  * identically, so cross-engine bucket assignments (q_text_dsir) can be
  * oracle-checked. Codegen'd Catalyst expression, zero shuffle, evaluated
  * inside the scan stage; measured 1.54 s → 1.13 s on q_text_dsir at
  * sf0.1 (the hex round-trip was ~27% of the query).
  */
case class Md5Prefix64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"md5_prefix64 requires string, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    Md5Prefix64.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      s => s"${ev.value} = graft.functions.Md5Prefix64.hash($s);")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix64 =
    copy(child = newChild)
}

object Md5Prefix64 {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Called from both interpreted eval and generated code. */
  def hash(s: UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  def md5Prefix64(c: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(Md5Prefix64(GraftShims.expression(c)))
  }
}

/** The Count-Min geometry of the frequency MVs (`q_agg_cm_mv`,
  * `Streams.cmMvBatch` and its reader `Streams.cmEstimate`): [[Depth]]
  * rows of [[Width]] cells, row `dep` bucketing a key into
  * `md5Prefix64("<dep>:<key>") % Width`. A writer and a reader that
  * disagree on any of it mis-estimate without an error, so it is defined
  * once, for Spark and for the DuckDB oracle.
  */
object CountMin {
  val Depth = 4
  val Width = 512

  /** One row per depth: `explode` of the rows' indices 0 until [[Depth]]. */
  def deps: Column =
    org.apache.spark.sql.functions.explode(
      org.apache.spark.sql.functions.expr(s"sequence(0, ${Depth - 1})"))

  /** The cell of string `key` in row `dep`. */
  def bucket(dep: Column, key: Column): Column = {
    import org.apache.spark.sql.functions.{concat, lit}
    Md5Prefix64.md5Prefix64(concat(dep.cast("string"), lit(":"), key)) % Width
  }

  /** DuckDB mirror of [[deps]]: a one-column `dep` relation. */
  val depsSql: String = s"(SELECT unnest([${(0 until Depth).mkString(", ")}]) AS dep)"

  /** DuckDB mirror of [[bucket]] over the SQL expressions `dep` and a
    * VARCHAR `key`. */
  def bucketSql(dep: String, key: String): String =
    s"CAST(('0x' || substr(md5(CAST($dep AS VARCHAR) || ':' || $key), 1, 8))::BIGINT % $Width AS BIGINT)"
}
