package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Automatic `initialPartitionNum` (r15; VERDICT r14 item 4): derive the
  * AQE seed partition count per QUERY from the plan's own size estimates,
  * replacing the per-corpus manual lever (128 @ sf10 / 256-512 @ sf100,
  * BENCH_sf100_rel.json / BENCH_sf100_spillAB.json).
  *
  * Why per-query and not per-corpus: the sf100 A/Bs showed the best manual
  * setting is a property of the PLAN, not the corpus — q_sim_knn_graph
  * (pair-expanding shuffle) wanted 512 where q_dedup_embed_lsh (compact
  * banded signatures, same input table) wanted 256; the window family's
  * sort spill wanted 512 where the scan-bound TPC-H aggregates were happy
  * at 256. Scan bytes alone cannot see that difference; the size estimate
  * flowing into the shuffle-inducing operators can (PlanStats.signals).
  *
  * The formula: the largest of (a) scanned bytes, (b) the largest
  * RELIABLE join input (PlanStats.signals' trust rule — size-only
  * estimates are only read from join-free, aggregate-free subtrees),
  * (c) SelfJoinWeight x the largest reliable inner-SELF-join input (the
  * candidate-pair expansion shape), and (d) SortWeight x the largest
  * reliable Window/global-Sort input (row-buffering operators), sized at
  * `TargetPartBytes` of estimated input per partition and rounded up to
  * a multiple of cpus. Floors at `cpus` — at driver scales (sf0.01 /
  * sf0.1 the gate runs at) every estimate is far below cpus x target, so
  * auto reproduces the r1-r10 default exactly. Caps at 1024: beyond
  * that, per-partition scheduler/setup overhead dominates any spill
  * relief on a 32-thread host.
  *
  * THE DEFAULT since r16 (VERDICT r15 item 4): the harnesses (Bench,
  * QTime, Verify) apply the per-query seed unless SPARK_GRAFT_INIT_PARTITIONS
  * overrides it — a numeric value keeps the documented manual behavior
  * (builder-level seed, no per-query override), "off"/"default" keeps the
  * pre-r16 fixed default (= cpus), "auto" is the explicit spelling of the
  * default. Safe to default because the formula floors at cpus: at the
  * driver gate scales every estimate is far below cpus x target, so auto
  * reproduces the r1-r15 behavior exactly (pinned in PlanSpec); at big SF
  * it matched or beat the per-key manual best on 8 of the nine A/B keys
  * (BENCH_autoparts_AB.json) — q_merge_upsert was the documented
  * exception (auto 384 → 1.83x the manual 512 best; the global sort above
  * its full-outer join buffers the join OUTPUT, whose row count no static
  * size estimate can see), closed in r17 by the registry's per-key
  * [[Q.seedHint]] consumed in [[applyIfAuto]]. The conf is
  * runtime-settable, so the harness sets it per query just before the
  * consumer executes.
  */
object AutoParts {
  /** Is the per-query auto seed active? See [[RunConfig.autoSeed]]. */
  lazy val autoEnabled: Boolean = Harness.config.autoSeed

  /** The Spark setting the seed is written to. */
  val SeedConf = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** Estimated input bytes per shuffle partition. 32 MB of
    * footer-estimated (columnar-compressed) input ≈ 100-500 MB in
    * unsafe-row form mid-shuffle — small enough to sort without spilling
    * in a 1-2 GB task share, large enough that per-partition setup cost
    * stays negligible.
    */
  val TargetPartBytes: Long = 32L << 20

  /** Window/global-Sort inputs buffer EVERY row in UnsafeRow form plus
    * sort arrays; the footer-derived estimate of a pruned numeric column
    * set under-counts that by roughly an order of magnitude (measured:
    * q_win_rolling_median's 0.9 GB estimated input wanted 512 partitions
    * at sf100 — 512 ≈ 0.9 GB x 16 / 32 MB — where 256 ran 3.7x slower,
    * BENCH_sf100_rel_p512.json).
    */
  val SortWeight = 16

  /** Inner self-joins (the LSH candidate-pair shape) expand their input
    * by the per-bucket pair multiplicity, and the downstream distinct /
    * top-k shuffles carry that expanded volume — invisible to any static
    * size estimate. Same order-of-magnitude weight as SortWeight: the
    * measured best settings for the pair keys (256-512 at sf100,
    * BENCH_sf100_spillAB.json) sit ~16x above their ~0.6 GB reliable join
    * input over the 32 MB target.
    */
  val SelfJoinWeight = 16

  val MaxParts = 1024

  /** Partition seed for this DataFrame's plan: see object doc. */
  def partsFor(df: DataFrame, cpus: Int): Int = {
    val s = PlanStats.signals(df.queryExecution.optimizedPlan)
    val est = s.scan
      .max(s.joinChild)
      .max(s.selfJoinChild * SelfJoinWeight)
      .max(s.winSortChild * SortWeight)
    // clamp in the BigInt domain BEFORE narrowing: .toLong on an
    // astronomic BigInt truncates to the low 64 bits (possibly negative),
    // and a negative Long's .toInt wraps again — the r16 probe measured a
    // 1,733,712,384-partition seed from a 6.9e61 checkpoint stat this way
    // (PlanStats now also zeroes such garbage at the signal level)
    val raw = (est / TargetPartBytes).min(BigInt(MaxParts)).toLong
    val rounded = ((raw + cpus - 1) / cpus) * cpus
    math.max(cpus, rounded.min(MaxParts.toLong).toInt)
  }

  /** Apply the lever for one query when auto mode is active (the r16
    * default — see [[autoEnabled]]): sets the AQE seed conf for the query
    * about to execute and returns the chosen value (for logging); no-op
    * returning -1 otherwise.
    *
    * When the registry declares a [[Q.seedHint]] for `name` AND the
    * formula itself is above the cpu floor (the plan's estimates are in
    * the spill regime — i.e. big SF, not the driver gate), the hint wins:
    * it encodes a measured optimum the static signals cannot derive
    * (q_merge_upsert's sort-above-full-outer-join, VERDICT r16 item 1).
    * At gate scales the formula floors at cpus, the hint never fires, and
    * auto remains bit-identical to the r16 behavior (PlanSpec pins both
    * sides of that gate).
    */
  def applyIfAuto(name: String, df: DataFrame, cpus: Int): Int =
    if (autoEnabled) {
      val n = chooseSeed(name, partsFor(df, cpus), cpus)
      df.sparkSession.conf.set(SeedConf, n)
      n
    } else -1

  /** The hint-vs-formula decision, pure for tests: the registry hint wins
    * only when the formula is above the cpu floor (spill regime); at gate
    * scales the formula floors at cpus and the hint is inert.
    */
  def chooseSeed(name: String, formula: Int, cpus: Int): Int =
    Registry.byName.get(name).flatMap(_.seedHint) match {
      case Some(h) if formula > cpus => h
      case _                         => formula
    }

  /** The harnesses' per-query seed policy for one session (Bench, QTime,
    * Verify, SubsetDump). [[apply]] seeds a query's plan when auto mode is
    * active; a failed analysis logs and puts back the seed the session
    * started with (a tool's pinned -D flag, a numeric env seed, or
    * Spark's own default) instead of inheriting the previous query's
    * seed or aborting the run (ADVICE r15, r17). The plan is built only
    * in auto mode (ADVICE r16: a disabled lever must not build and
    * analyze every plan an extra time).
    */
  final class Seeder(spark: SparkSession, cpus: Int, tag: String) {
    private val start = spark.conf.getOption(SeedConf)

    /** Seeds `name`'s plan; returns the seed, -1 when none was chosen. */
    def apply(name: String, df: => DataFrame): Int =
      if (!autoEnabled) -1
      else
        try applyIfAuto(name, df, cpus)
        catch {
          case NonFatal(e) =>
            System.err.println(s"[$tag] $name auto-parts analysis failed, default seed: $e")
            restore()
            -1
        }

    /** Puts back the starting seed (auto mode only). */
    def restore(): Unit = if (autoEnabled) start match {
      case Some(v) => spark.conf.set(SeedConf, v)
      case None    => spark.conf.unset(SeedConf)
    }
  }
}
