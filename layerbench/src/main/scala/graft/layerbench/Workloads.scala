package graft.layerbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** The workload definitions. Inputs are the checked-in tables under
  * `layerbench/data` (the engine's reference corpus: `sf0.001`, all ten
  * tables, and the `sf0.1` events); the run's `--seed` draws the key order
  * and the telemetry operation stream.
  */
object Workloads {
  /** Optimisation target with a large wall at scale (a window/sort
    * kernel), also a per-layer metric, `key.<name>.ms`. It is TsOps' key.
    */
  val TargetKeys: Seq[String] = Seq("q_ts_theilsen")

  /** Per-key fixed cost: one median-cost key (sf0.001, hash consumer) from
    * each of the 12 operator modules other than TsOps, the flagship range
    * scan among them, plus [[TargetKeys]] for TsOps: one key per module,
    * all 13 modules. Every builder starts
    * Spark jobs before its final plan (parquet footer reads; q_tpch_q3 and
    * q_agg_hll_mv more), counted as `spark.jobs_pre_plan`. The data is at
    * the reference's own scale (its table holds at most 3,900 rows), so
    * nearly all of each key's wall is builders, planning and stage/task
    * scheduling. A run cannot afford all 181 keys (about 70 s per warm
    * pass on 4 cores), nor more than one key per module, so the sample is
    * fixed here.
    */
  val FloorKeys: Seq[String] = Seq(
    "q_select_by_id_range", "q_tpch_q3", "q_agg_hll_mv", "q_win_rank",
    "q_union_byname", "q_fn_json", "q_text_tokens", "q_graph_triangles",
    "q_embed_kmeans", "q_mm_resize", "q_pipeline_rag_prep",
    "q_layout_zorder") ++ TargetKeys
  /** Input tables of `registry_floor`, under the data directory. */
  val FloorData = "sf0.001"

  /** Source of the telemetry store: the `sf0.1` events, 100 k readings of
    * 1,500 series over 30 days. */
  val TelemetryData = "sf0.1"

  val Names: Seq[String] = Seq("registry_floor", "telemetry_serve")

  /** Expected `key<TAB>count<TAB>bit_xor`, one key per line; `#` starts a comment line. */
  def readExpected(f: File): Map[String, String] =
    if (!f.isFile) Map.empty
    else Files.readAllLines(f.toPath).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val i = l.indexOf('\t')
      l.substring(0, i) -> l.substring(i + 1)
    }.toMap
}
