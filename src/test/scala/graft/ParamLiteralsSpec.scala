package graft

import graft.sources.{Param, ParamLiterals}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Literal, Not}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The caller's values kept out of generated code: [[Param]] and the
  * file-scan strategy that plants it (`graft.sources.ParamLiterals`). */
class ParamLiteralsSpec extends SparkSpec {

  /** 40 rows over four `event_date` partitions: id, ts, v. */
  private lazy val store = {
    val dir = java.nio.file.Files.createTempDirectory("graft_params").toString
    spark.range(40).select(
        (col("id") % 4).as("id"),
        (lit(1724803200L) + col("id") * 7200).cast("timestamp").as("ts"),
        col("id").cast("double").as("v"))
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(dir)
    dir
  }

  private def params(p: SparkPlan): Seq[Param] =
    p.collect { case f: FilterExec => f.condition.collect { case x: Param => x } }.flatten

  test("Param is deterministic, not foldable, prints as its literal and is canonically equal exactly when its value is") {
    val micros = 1724803200000000L
    val a = Param(micros, TimestampType)
    assert(a.deterministic && !a.foldable && !a.nullable)
    assert(a.eval() === micros)
    assert(a.toString === Literal(micros, TimestampType).toString)
    assert(a.sql === Literal(micros, TimestampType).sql)
    assert(a.canonicalized === Param(micros, TimestampType).canonicalized)
    assert(a.semanticEquals(Param(micros, TimestampType)))
    assert(!a.semanticEquals(Param(micros + 1, TimestampType)))
    assert(!Param(7, IntegerType).semanticEquals(Param(7, DateType)))
  }

  test("the strategy parameterizes the filter over a file scan; a null literal stays a literal") {
    val rel = spark.read.parquet(store).queryExecution.optimizedPlan
    val id = rel.output.find(_.name == "id").get
    val cond = And(EqualTo(id, Literal(3L)), Not(EqualNullSafe(id, Literal(null, LongType))))
    val planned = ParamLiterals(Filter(cond, rel): LogicalPlan)
    assert(planned.size === 1)
    assert(params(planned.head) === Seq(Param(3L, LongType)))
    assert(planned.head.collect { case f: FilterExec =>
      f.condition.collect { case l @ Literal(null, LongType) => l } }.flatten.size === 1)
  }

  test("the scan keeps its literals: PushedFilters and PartitionFilters print as before, and the rows agree") {
    val plain = spark.newSession()
    val served = spark.newSession()
    ParamLiterals.install(served)
    def query(s: SparkSession) = {
      val (from, to) = (lit("2024-08-28 06:00:00"), lit("2024-08-29 12:00:00"))
      s.read.parquet(store).filter(
        col("event_date").between(to_date(from), to_date(to)) && col("id") === 2L &&
          col("ts").between(from.cast("timestamp"), to.cast("timestamp")))
    }
    val (p, q) = (query(plain), query(served))
    val (pp, qp) = (executedPlan(p), executedPlan(q))
    // the two sessions number their attributes apart
    def scan(plan: SparkPlan, k: String) = plan.collectFirst { case s: FileSourceScanExec => s }
      .get.metadata(k).replaceAll("#\\d+", "")
    Seq("PushedFilters", "PartitionFilters").foreach(k => assert(scan(qp, k) === scan(pp, k), k))
    assert(params(pp).isEmpty)
    assert(params(qp).map(_.dataType).toSet === Set(LongType, TimestampType))
    assert(q.collect().toSeq.map(_.toString).sorted === p.collect().toSeq.map(_.toString).sorted)
    assert(q.count() > 0)
  }

  test("installing twice leaves one entry, ahead of the session's other strategies") {
    val s = spark.newSession()
    val other = new SparkStrategy { def apply(plan: LogicalPlan): Seq[SparkPlan] = Nil }
    s.experimental.extraStrategies = Seq(other)
    ParamLiterals.install(s)
    ParamLiterals.install(s)
    assert(s.experimental.extraStrategies === Seq(ParamLiterals, other))
  }
}
