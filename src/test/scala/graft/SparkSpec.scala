package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session; suites run in
  * the forked test JVM sequentially).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  val sfDir = "/root/testdata/sf0.001"

  /** Executed plan with the AQE root unwrapped. NOTE: finished stages stay
    * hidden inside QueryStageExec leaves — for plan-SHAPE assertions run the
    * query with AQE disabled first (see PlanSpec/LayoutSpec).
    */
  def executedPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
  }

  /** Janino compiles (Spark's code-cache misses) while `body` runs, on the
    * driver and in the tasks alike. */
  def compilesDuring[T](body: => T): (T, Long) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val c0 = h.getCount
    val r = body
    (r, h.getCount - c0)
  }

  /** Spark jobs launched while `body` runs (listener bus drained on both
    * sides, so no earlier or later job is counted). */
  def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Run `body` with AQE (and optionally auto-broadcast) off so physical
    * plan shapes are fully visible and strategy choices are forced. */
  def withPlanShapeConf[T](disableBroadcast: Boolean = false)(body: => T): T = {
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled", "true")
    val bc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    conf.set("spark.sql.adaptive.enabled", "false")
    if (disableBroadcast) conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep catalog tables (bucketed-layout tests) under target/ so sbt
      // clean removes them — a /tmp temp dir would leak a copy of the test
      // tables on every run
      .config(
        "spark.sql.warehouse.dir",
        new java.io.File("target/test-warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
