package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, struct, xxhash64}

/** Dev utility: time (or explain) a subset of queries without the full
  * Bench sweep. Usage: runMain graft.QTime <sfDir> <name>[,<name>...]
  * [--explain]. Warm pass then 2 timed passes per query, min reported.
  *
  * SPARK_GRAFT_QTIME_AGG=hash swaps the `.count()` consumer for an
  * aggregate of xxhash64 over EVERY output column. count() lets
  * ColumnPruning drop any computed column the count does not need — for
  * the window family that deletes the Window operators and their sorts
  * entirely, so a count-based "measurement" of q_win_* times the parquet
  * scan (verified: the count plan at sf100 runs 100 M windowed rows in
  * 0.8 s — scan speed). The hash consumer forces every column through the
  * full plan while still returning only one row to the driver.
  */
object QTime {
  /** The ONE definition of the forced-hash consumer plan: xxhash64 over a
    * struct of every output column, aggregated as (count, bit_xor). Used by
    * evalRows, the --explain branch, and PlanSpec's honesty test — three
    * hand-built copies drifted apart is exactly the failure mode this
    * prevents. bit_xor, not sum: ANSI mode (Spark 4 default) makes a long
    * sum of hashes overflow-fatal; xor is closed over Long and still forces
    * every column through the plan.
    */
  private[graft] def hashConsumer(df: DataFrame): DataFrame =
    df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)"))

  private[graft] def evalRows(df: DataFrame, forceHash: Boolean): Long =
    if (forceHash) hashConsumer(df).head.getLong(0)
    else df.count()

  /** A key's result line; the sf100 gate and A/B tools parse its
    * `min=([\d.]+)`, so the times print under `Locale.ROOT`. */
  private[graft] def line(name: String, rows: Long, passSecs: Seq[Double]): String =
    s"[qtime] $name rows=$rows min=${Harness.fixed(passSecs.min)} s " +
      s"(passes: ${passSecs.map(Harness.fixed(_)).mkString(", ")})"

  /** One key's QTime: the per-query AQE seed from the plan's own size
    * estimates, set BEFORE any pass so the warm and timed passes run the
    * same physical configuration (a failed analysis continues on the
    * starting seed: ADVICE r15, unguarded, it aborted the whole remaining
    * key list including --explain-only inspection runs), the explain and
    * the warm pass, all on one build of `fn`; then `passes` timed passes,
    * each on its own build. Returns the warm pass's rows and the timed
    * passes' seconds, None with `explainOnly`.
    */
  private[graft] def timeKey(
      spark: SparkSession, sfDir: String, seeder: AutoParts.Seeder, n: String,
      fn: (SparkSession, String) => DataFrame,
      explain: Boolean, explainOnly: Boolean, forceHash: Boolean, passes: Int)
      : Option[(Long, Seq[Double])] = {
    val df = fn(spark, sfDir)
    val auto = seeder(n, df)
    if (auto > 0) println(s"[qtime] $n auto_init_partitions=$auto")
    // explain what the hash consumer actually executes (count() and the
    // hash agg prune/keep different subtrees)
    if (explain) (if (forceHash) hashConsumer(df) else df).explain("formatted")
    if (explainOnly) None
    else {
      val r0 = evalRows(df, forceHash) // warm
      val ts = (1 to passes).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        evalRows(fn(spark, sfDir), forceHash)
        (System.nanoTime() - t0) / 1e9
      }
      Some((r0, ts))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    // --explain-only: print the (consumer-wrapped) plan and SKIP execution
    // — for inspecting big-SF plan geometry without paying the runs
    val explainOnly = args.contains("--explain-only")
    val explain = args.contains("--explain") || explainOnly
    val cfg = Harness.config
    val cpus = Harness.cpus(32)
    // a NUMERIC SPARK_GRAFT_INIT_PARTITIONS pins the AQE seed for the
    // whole run (parity with Bench; pinned -D flags keep working because
    // nothing is set here otherwise); auto mode — the r16 default — seeds
    // per query below
    val spark = Harness.session(32, cfg.pinnedSeed.map(AutoParts.SeedConf -> _).toSeq)
    // SPARK_GRAFT_QTIME_PASSES (default 2): big-SF probes whose shuffle
    // spill approaches the disk budget run 1 timed pass. The GC between
    // passes releases the previous pass's ShuffleDependencies so the
    // ContextCleaner deletes their spill files — without it, 3 passes of a
    // ~30 GB-spill query accumulate until the disk fills (observed:
    // q_sim_knn_graph at sf100).
    val passes = cfg.qtimePasses
    val forceHash = cfg.qtimeHash
    val seeder = new AutoParts.Seeder(spark, cpus, "qtime")
    names.foreach { n =>
      timeKey(spark, sfDir, seeder, n, SparkEntry.queries(n), explain, explainOnly, forceHash, passes)
        .foreach { case (r0, ts) => println(line(n, r0, ts)) }
    }
    spark.stop()
  }
}
