package graft.layerbench

import scala.collection.immutable.ListMap

/** What one workload run reports: operation counts, the end-to-end metrics
  * (untraced run) or per-layer metrics (traced run) as name -> (value,
  * unit), and extra detail for the run's artifact.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    endToEnd: ListMap[String, (Double, String)],
    layers: ListMap[String, (Double, String)],
    detail: ListMap[String, Any])

object Outcome {
  /** Per-layer metric names each workload family reports. A traced run
    * reports the union, with 0 for the layers its workload never enters,
    * so every traced run carries the same metric set.
    */
  val RegistryLayers: Seq[(String, String)] = Seq(
    "key.build_ms" -> "ms", "key.plan_ms" -> "ms", "key.exec_ms" -> "ms",
    "AutoParts.apply_ms" -> "ms", "MatCache.sweep_ms" -> "ms", "MatCache.cached_mb" -> "MB",
    "spark.jobs" -> "count", "spark.jobs_pre_plan" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.cpu_util" -> "ratio", "spark.gc_s" -> "s",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "spill.mb" -> "MB",
    "scan.input_mb" -> "MB", "mem.peak_exec_mb" -> "MB",
    "plan.exchanges" -> "count", "plan.scans" -> "count", "plan.sorts" -> "count",
    "plan.windows" -> "count") ++
    Modules.names.map(m => s"ops.$m.ms" -> "ms") ++
    Workloads.TargetKeys.map(k => s"key.$k.ms" -> "ms")

  val TelemetryLayers: Seq[(String, String)] = Seq(
    "Streams.upsertRead.build_ms_p50" -> "ms", "range_read.exec_ms_p50" -> "ms",
    "range_read.ms_p95" -> "ms",
    "range_read.jobs_per_op" -> "count", "range_read.tasks_per_op" -> "count",
    "range_read.rows_examined_per_row" -> "ratio", "range_read.pending_deltas" -> "count",
    "Streams.upsertDeltaBatch.ms_p50" -> "ms", "Streams.upsertDeltaBatch.jobs_per_op" -> "count",
    "Streams.compactUpsertDeltas.ms_p50" -> "ms", "Streams.compactUpsertDeltas.jobs_per_op" -> "count",
    "Streams.compactUpsertDeltas.partitions_rewritten" -> "count",
    "ingest.rows_per_s" -> "1/s", "write_amp" -> "ratio", "store.space_amp" -> "ratio",
    "fault_sweep.ms_p50" -> "ms", "fault_sweep.rows_scanned" -> "count",
    "fault_sweep.rows_flagged" -> "count")

  /** The full per-layer set: shared Spark counters first, then each family. */
  val AllLayers: Seq[(String, String)] = (RegistryLayers ++ TelemetryLayers).distinct

  /** `measured` completed to [[AllLayers]] with 0 for absent layers. */
  def completeLayers(measured: Map[String, Double]): ListMap[String, (Double, String)] =
    ListMap(AllLayers.map { case (n, u) => n -> (measured.getOrElse(n, 0.0), u) }: _*)
}

/** The engine's 13 operator modules, for per-module time attribution. */
object Modules {
  private val byModule: Seq[(String, Seq[graft.Q])] = {
    import graft.ops._
    Seq(
      "CoreOps" -> CoreOps.qs, "JoinOps" -> JoinOps.qs, "AggOps" -> AggOps.qs,
      "WindowOps" -> WindowOps.qs, "SetOps" -> SetOps.qs, "FnOps" -> FnOps.qs,
      "TsOps" -> TsOps.qs, "TextOps" -> TextOps.qs, "DedupOps" -> DedupOps.qs,
      "SimOps" -> SimOps.qs, "MultimodalOps" -> MultimodalOps.qs,
      "PipelineOps" -> PipelineOps.qs, "LayoutOps" -> LayoutOps.qs)
  }
  val names: Seq[String] = byModule.map(_._1)
  lazy val of: Map[String, String] =
    byModule.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
}

/** Digest of an operation sequence: the same seed must give the same
  * stream, another seed a different one.
  */
final class OpStream {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  private var n = 0
  def add(op: String): Unit = {
    md.update((op + "\n").getBytes("UTF-8"))
    n += 1
  }
  def size: Int = n
  def digest: String =
    java.util.HexFormat.of().formatHex(md.clone().asInstanceOf[java.security.MessageDigest].digest())
}
