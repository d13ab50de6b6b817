package graft.layerbench

import java.io.File
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{AutoParts, MatCache, QTime, Registry, ScaleGen, SparkEntry}

/** Registry keys through the hash consumer, closed loop, one client.
  *
  * Per-key protocol is Bench's: `AutoParts.applyIfAuto` before the timed
  * call, `MatCache.harnessSweep` after it. The timed call is the builder
  * `fn(spark, dir)` (build), forcing the consumer's executed plan (plan)
  * and collecting the consumer's one `(count, bit_xor)` row (exec). The
  * seed shuffles the key order of every pass; one untimed warm pass
  * comes first, then passes repeat until the run's seconds are used (at
  * least 3).
  *
  * Output check: each key's `(count, bit_xor)` must equal the expected
  * table (recorded from a run whose `graft.Verify` dump passed the DuckDB
  * oracle at the same data); keys in `Registry.propertyVerification` must
  * instead give the same hash in every pass of the run.
  */
final class RegistryWorkload(
    spark: SparkSession,
    cpus: Int,
    keys: Seq[String],
    src: String,
    expectedFile: File,
    tracer: Tracer,
    counters: Option[SparkCounters],
    actions: Option[ActionLog]) {
  import RegistryWorkload.KeyRun

  private val SeedConf = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
  /** Untimed passes first. The first pass loads and compiles every key's
    * code; a second warm pass would settle walls further (the JIT is still
    * compiling generated code in it) but does not fit the run budget with
    * 13 keys, so timed pass 1 carries some compilation in every run alike. */
  private val WarmPasses = 1
  /** Timed passes per run at least: per-key medians over three passes. */
  private val MinPasses = 3

  /** Writes the input tables into `dir` through the engine's own data
    * path: `ScaleGen.generate` at factor 1, whose single replica is the
    * source corpus unchanged, so the keys read a private copy and their
    * expected hashes are those of the source. */
  def setup(dir: String): Unit = ScaleGen.generate(spark, src, dir, 1)

  def run(dir: String, seed: Long, seconds: Int, record: Option[File]): Outcome = {
    val fns = keys.map(k => k -> SparkEntry.queries(k)).toMap
    val expected = if (record.isDefined) Map.empty[String, String] else Workloads.readExpected(expectedFile)
    val observed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val failures = ArrayBuffer.empty[String]
    val runs = ArrayBuffer.empty[KeyRun]
    val passWalls = ArrayBuffer.empty[Double]
    var cachedMb = 0.0 // storage held after timed pass 2
    val defaultSeed = spark.conf.get(SeedConf)
    val sc = spark.sparkContext
    def snap(): Counters = counters.map(_.snapshot(sc)).getOrElse(Counters.zero)
    var attempted = 0L

    def runKey(pass: Int, k: String): Unit = tracer.op("key") {
      val fn = fns(k)
      attempted += 1
      try {
        val (_, applyNs) = tracer.span("AutoParts.applyIfAuto") {
          try AutoParts.applyIfAuto(k, fn(spark, dir), cpus)
          catch { case NonFatal(_) => spark.conf.set(SeedConf, defaultSeed) }
        }
        actions.foreach(_.drain())
        counters.foreach(_.resetPeak())
        val c0 = snap()
        val t0 = System.nanoTime()
        val (df, buildNs) = tracer.span("build")(fn(spark, dir))
        val c1 = snap()
        val h = QTime.hashConsumer(df)
        val (_, planNs) = tracer.span("plan")(h.queryExecution.executedPlan)
        val (rows, execNs) = tracer.span("exec")(h.collect())
        val wallNs = System.nanoTime() - t0
        val c2 = snap()
        spark.conf.set(SeedConf, defaultSeed)
        val (_, sweepNs) = tracer.span("MatCache.harnessSweep")(MatCache.harnessSweep(spark, blocking = true))
        val shape = if (tracer.enabled) PlanShape.of(h.queryExecution.executedPlan) else PlanShape.zero
        val phases = actions.flatMap(_.drain().lastOption.map(_._2)).getOrElse(Map.empty)
        runs += KeyRun(pass, k, wallNs, buildNs, planNs, execNs, applyNs, sweepNs,
          c1.jobs - c0.jobs, c2 - c0, shape, phases)
        val r = rows.head
        val got = s"${r.getLong(0)}\t${if (r.isNullAt(1)) "null" else r.getLong(1).toString}"
        val want =
          if (Registry.propertyVerification.contains(k) || record.isDefined) observed.get(k)
          else Some(expected.getOrElse(k, "missing"))
        if (!observed.contains(k)) observed(k) = got
        want.filter(_ != got).foreach(w => failures += s"pass $pass $k: got ($got), expected ($w)")
      } catch {
        case NonFatal(e) =>
          spark.conf.set(SeedConf, defaultSeed)
          failures += s"pass $pass $k: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"
      }
    }

    val stream = new OpStream
    def runPass(pass: Int): Unit = {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(keys)
      if (pass <= 2) order.foreach(k => stream.add(s"$pass $k"))
      val t0 = System.nanoTime()
      order.foreach(k => runKey(pass, k))
      if (pass > 0) passWalls += (System.nanoTime() - t0) / 1e9
      if (tracer.enabled && pass == 2)
        cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    }

    (1 - WarmPasses to 0).foreach(runPass)
    val cpu0 = Host.processCpuNs()
    val start = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || System.nanoTime() - start < seconds * 1000000000L) {
      pass += 1
      runPass(pass)
    }
    val windowS = (System.nanoTime() - start) / 1e9
    val cpuMs = (Host.processCpuNs() - cpu0) / 1e6

    record.foreach { f =>
      val lines = observed.toSeq.sortBy(_._1).collect {
        case (k, v) if !Registry.propertyVerification.contains(k) => s"$k\t$v"
      }
      Files.write(f.toPath, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }

    val timed = runs.filter(_.pass > 0)
    val walls = timed.map(_.wallNs / 1e6)
    val perKeyMs = keys.map(k => k -> Stats.median(timed.filter(_.key == k).map(_.wallNs / 1e6).toSeq)).toMap
    val endToEnd = ListMap(
      "pass_s" -> (Stats.median(passWalls.toSeq), "s"),
      "key_geomean_ms" -> (Stats.geomean(perKeyMs.values.toSeq), "ms"),
      "op_ms_p50" -> (Stats.median(walls.toSeq), "ms"),
      "ops_per_s" -> (timed.size / windowS, "1/s"),
      "cpu_ms_per_op" -> (cpuMs / timed.size, "ms"))

    // Times: median over timed passes of the per-pass sum. Counts: mean of
    // timed passes 1 and 2, a fixed prefix, so they repeat exactly per seed.
    def perPass(f: KeyRun => Double): Double =
      Stats.median((1 to pass).map(p => timed.filter(_.pass == p).map(f).sum))
    val prefix = timed.filter(r => r.pass == 1 || r.pass == 2)
    val work = prefix.map(_.work).foldLeft(Counters.zero)(_ + _)
    def perPrefix(x: Double): Double = x / 2.0
    val shape = timed.filter(_.pass == 1).map(_.shape).foldLeft(PlanShape.zero)(_ + _)
    val prefixWallS = prefix.map(_.wallNs).sum / 1e9
    val layers: Map[String, Double] = Map(
      "key.build_ms" -> perPass(_.buildNs / 1e6),
      "key.plan_ms" -> perPass(_.planNs / 1e6),
      "key.exec_ms" -> perPass(_.execNs / 1e6),
      "AutoParts.apply_ms" -> perPass(_.applyNs / 1e6),
      "MatCache.sweep_ms" -> perPass(_.sweepNs / 1e6),
      "MatCache.cached_mb" -> cachedMb,
      "spark.jobs" -> perPrefix(work.jobs.toDouble),
      "spark.jobs_pre_plan" -> perPrefix(prefix.map(_.prePlanJobs).sum.toDouble),
      "spark.stages" -> perPrefix(work.stages.toDouble),
      "spark.tasks" -> perPrefix(work.tasks.toDouble),
      "spark.executor_cpu_s" -> perPrefix(work.cpuNs / 1e9),
      "spark.executor_run_s" -> perPrefix(work.runMs / 1e3),
      "spark.cpu_util" -> (if (prefixWallS > 0) work.cpuNs / 1e9 / (prefixWallS * cpus) else 0.0),
      "spark.gc_s" -> perPrefix(work.gcMs / 1e3),
      "shuffle.write_mb" -> perPrefix(work.shuffleWrite / 1e6),
      "shuffle.read_mb" -> perPrefix(work.shuffleRead / 1e6),
      "spill.mb" -> perPrefix(work.spill / 1e6),
      "scan.input_mb" -> perPrefix(work.input / 1e6),
      "mem.peak_exec_mb" -> prefix.map(_.work.peakExec).foldLeft(0L)(_ max _) / 1e6,
      "plan.exchanges" -> shape.exchanges.toDouble,
      "plan.scans" -> shape.scans.toDouble,
      "plan.sorts" -> shape.sorts.toDouble,
      "plan.windows" -> shape.windows.toDouble) ++
      Modules.names.map(m => s"ops.$m.ms" ->
        perPass(r => if (Modules.of.get(r.key).contains(m)) r.wallNs / 1e6 else 0.0)) ++
      Workloads.TargetKeys.filter(keys.contains).map(k => s"key.$k.ms" -> perKeyMs(k))

    val keyDetail = ListMap(keys.sorted.map { k =>
      val rs = timed.filter(_.key == k)
      val p1 = rs.find(_.pass == 1)
      k -> ListMap(
        "module" -> Modules.of.getOrElse(k, "?"),
        "median_ms" -> perKeyMs(k),
        "samples" -> rs.size,
        "build_ms" -> Stats.median(rs.map(_.buildNs / 1e6).toSeq),
        "plan_ms" -> Stats.median(rs.map(_.planNs / 1e6).toSeq),
        "exec_ms" -> Stats.median(rs.map(_.execNs / 1e6).toSeq),
        "jobs_per_pass" -> rs.map(_.work.jobs),
        "jobs_pre_plan_per_pass" -> rs.map(_.prePlanJobs),
        "tasks_per_pass" -> rs.map(_.work.tasks),
        "executor_cpu_ms" -> p1.map(_.work.cpuNs / 1e6),
        "shuffle_write_bytes" -> p1.map(_.work.shuffleWrite),
        "plan" -> p1.map(r => ListMap("exchanges" -> r.shape.exchanges, "scans" -> r.shape.scans,
          "sorts" -> r.shape.sorts, "windows" -> r.shape.windows)),
        "planner_phases_ms" -> p1.map(_.phases))
    }: _*)

    Outcome(
      attempted = attempted,
      failed = failures.size.toLong,
      endToEnd = endToEnd,
      layers = Outcome.completeLayers(layers),
      detail = ListMap(
        "keys" -> keys, "data" -> src, "timed_passes" -> pass, "window_s" -> windowS,
        "op_stream_sha256" -> stream.digest, "op_stream_ops" -> stream.size,
        "samples" -> ListMap("pass_s" -> passWalls.size, "op_ms" -> walls.size),
        "pass_walls_s" -> passWalls.toSeq,
        "failures" -> failures.toSeq,
        "per_key" -> keyDetail))
  }
}

object RegistryWorkload {
  private final case class KeyRun(
      pass: Int, key: String, wallNs: Long, buildNs: Long, planNs: Long,
      execNs: Long, applyNs: Long, sweepNs: Long, prePlanJobs: Long,
      work: Counters, shape: PlanShape, phases: Map[String, Long])
}
