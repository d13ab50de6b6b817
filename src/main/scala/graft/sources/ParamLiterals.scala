package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.types._

/** A literal whose generated code does not carry its value. `Literal`
  * inlines a long, int, date or timestamp into the Java source, so a
  * range read with new bounds is a new class for Spark's code cache: a
  * Janino compile, twice (the cache is keyed by the context class loader
  * too, and the driver's and the task's differ), plus fresh JIT work.
  * `Param` reads its value once from `references[]` into a field, so the
  * source is the same for every value. It prints as the literal would, is
  * deterministic, never null and not foldable (nothing may fold it back
  * into a `Literal` after planning); two are semantically equal exactly
  * when their values are, which keeps exchange reuse exact.
  */
case class Param(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** The file-scan strategy with the caller's values kept out of generated
  * code: it plans what `FileSourceStrategy` plans and, in the `FilterExec`
  * over the scan, turns each non-null long, int, date, timestamp and
  * timestamp_ntz `Literal` into a [[Param]]. The scan keeps its literals,
  * so partition pruning and pushed filters are unchanged, and the
  * optimizer, which runs before it, still sees literals. A warm read with
  * new bounds then hits the code cache. Serving reads install it into
  * their caller's session ([[ParamLiterals.install]]).
  */
object ParamLiterals extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    FileSourceStrategy(plan).map(_.transformUp {
      case f: FilterExec => f.copy(condition = parameterize(f.condition))
    })

  private def parameterize(e: Expression): Expression = e.transform {
    case Literal(v, t @ (LongType | IntegerType | DateType | TimestampType | TimestampNTZType))
        if v != null =>
      Param(v, t)
  }

  /** Put the strategy first in `s`'s extra strategies, unless it is there. */
  def install(s: SparkSession): Unit = synchronized {
    val extra = s.experimental.extraStrategies
    if (!extra.contains(this)) s.experimental.extraStrategies = this +: extra
  }
}
