package graft.layerbench

import java.io.File
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work-dir <dir> --data-dir <dir> --expected-dir <dir>`
  * [`--record <file>`].
  *
  * Sets the workload up five times (setup_s is the median), then runs it
  * closed loop for `--seconds`. With `--trace 0` the last stdout line
  * carries the gated end-to-end metrics; with `--trace 1` a SparkListener, a
  * QueryExecutionListener and in-memory spans are on, and it carries the
  * per-layer metrics. Each run also writes an artifact JSON under
  * `<work-dir>/artifacts` with both metric sets, span self times, the
  * tracing overhead against the last untraced run of the same workload,
  * and a host-noise witness.
  */
object Main {
  /** Set-ups per run. The first runs cold (class loading, JIT) and the
    * second is still compiling, so the median is the third-ranked of five. */
  private val SetupReps = 5

  /** End-to-end metrics on the result line, the ones BENCHMARK.json bounds.
    * The wall-clock ones (pass_s, key_geomean_ms, op_ms_p50, ops_per_s) are
    * recorded in the artifact only: on a shared 4-core host they moved by
    * 20-33 % between runs with hypervisor CPU steal (5-15 % of host time),
    * which no run length averages away; process CPU and RSS moved 4-13 %.
    */
  private val Gated = Set("setup_s", "cpu_ms_per_op", "peak_rss_mb")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt("work-dir")).getAbsoluteFile
    val expectedDir = new File(opt("expected-dir"))
    val inputDir = new File(opt("data-dir")).getAbsoluteFile
    val record = opt.get("record").map(new File(_))
    val cpus = Runtime.getRuntime.availableProcessors

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart(): Double = (System.currentTimeMillis() - jvmStart) / 1e3
    val load0 = Host.loadAvg1m()
    val canary0 = Host.canaryMs()
    val cpuA = Host.cpuSample()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"layerbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(trace)
    val counters = if (trace) Some(new SparkCounters) else None
    val actions = if (trace) Some(new ActionLog) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    actions.foreach(spark.listenerManager.register)

    val dataRoot = new File(work, s"data/$workload")
    deleteTree(dataRoot)
    dataRoot.mkdirs()
    val telemetry = new TelemetryWorkload(
      spark, new File(inputDir, Workloads.TelemetryData).getPath, tracer, counters)
    val reg =
      if (workload == "registry_floor")
        Some(new RegistryWorkload(spark, cpus, Workloads.FloorKeys,
          new File(inputDir, Workloads.FloorData).getPath,
          new File(expectedDir, s"$workload.tsv"), tracer, counters, actions))
      else None
    if (reg.isEmpty) telemetry.loadModel()

    val tSession = sinceStart()
    // set up SetupReps times into fresh directories; keep the last one
    val setupS = (1 to SetupReps).map { i =>
      val dir = new File(dataRoot, s"setup$i").getPath
      val t0 = System.nanoTime()
      reg match {
        case Some(r) => r.setup(dir)
        case None => telemetry.setup(dir)
      }
      val s = (System.nanoTime() - t0) / 1e9
      if (i < SetupReps) deleteTree(new File(dir))
      s
    }
    val tSetup = sinceStart()
    val dataDir = new File(dataRoot, s"setup$SetupReps").getPath
    val outcome = reg match {
      case Some(r) => r.run(dataDir, seed, seconds, record)
      case None => telemetry.run(seed, seconds)
    }
    val endToEnd = ListMap("setup_s" -> (Stats.median(setupS), "s")) ++ outcome.endToEnd ++
      ListMap("peak_rss_mb" -> (Host.peakRssMb(), "MB"))
    val cpuB = Host.cpuSample()
    val tRun = sinceStart()
    val canary1 = Host.canaryMs()

    // tracing overhead: this run's end-to-end numbers against the last
    // untraced run of the same workload in this work dir
    val lastUntraced = new File(work, s"artifacts/last_untraced_$workload.tsv")
    val overhead: Map[String, Double] =
      if (!trace) {
        lastUntraced.getParentFile.mkdirs()
        Files.write(lastUntraced.toPath,
          endToEnd.map { case (k, (v, _)) => s"$k\t${Json.number(v)}" }.mkString("\n").getBytes("UTF-8"))
        Map.empty
      } else if (lastUntraced.isFile)
        Files.readAllLines(lastUntraced.toPath).asScala.map(_.split("\t")).collect {
          case Array(k, v) if endToEnd.contains(k) && v.toDouble != 0.0 => k -> (endToEnd(k)._1 / v.toDouble - 1.0)
        }.toMap
      else Map.empty

    val metrics = if (trace) outcome.layers else endToEnd.filter { case (k, _) => Gated(k) }
    val result = ListMap(
      "correct" -> (outcome.failed == 0),
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> ListMap(metrics.toSeq.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }: _*))

    val artifact = ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "spark_version" -> spark.version, "local_threads" -> cpus,
      "result" -> result,
      "end_to_end" -> ListMap(endToEnd.toSeq.map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u, "gated" -> Gated(k)) }: _*),
      "setup_s_samples" -> setupS,
      "timeline_s" -> ListMap("session_ready" -> tSession, "setup_done" -> tSetup, "run_done" -> tRun),
      "layers" -> (if (trace) ListMap(outcome.layers.toSeq.map { case (k, (v, _)) => k -> v }: _*) else ListMap.empty),
      "tracing_overhead" -> overhead,
      "host" -> Host.witness(cpuA, cpuB, load0, (canary0, canary1)),
      "span_self_times" -> tracer.selfTimes.map { case (n, c, tot, self) =>
        ListMap("span" -> n, "count" -> c, "total_ms" -> tot, "self_ms" -> self)
      },
      "spans" -> tracer.spans.map(s => Seq(s.id, s.parent, s.op, s.name, s.startNs, s.endNs)),
      "detail" -> outcome.detail)
    val artifactFile = new File(work, s"artifacts/${workload}_seed${seed}_trace${if (trace) 1 else 0}.json")
    artifactFile.getParentFile.mkdirs()
    Files.write(artifactFile.toPath, Json.render(artifact).getBytes("UTF-8"))

    spark.stop()
    println(Json.render(result))
    System.out.flush()
    sys.exit(0)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
