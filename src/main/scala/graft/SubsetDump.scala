package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Subset-series oracle dump (r17; VERDICT r16 item 6): certify registry
  * keys whose FULL sf100 output is oracle-infeasible (q_ts_gapfill /
  * q_ts_interp_linear produce a 1.05 B-row hourly spine — a full-frame
  * EXCEPT ALL in DuckDB does not fit this host's disk beside the dumps).
  *
  * The form: both keys are per-series-independent (every output row is a
  * function of its own `user_id`'s events), so restricting the SERIES is
  * exact — the full query over a filtered corpus equals the filtered full
  * query. This main dumps the engine's output filtered to
  * `user_id % mod == 0` (Catalyst pushes the partition-key predicate
  * through the windows/joins to the scan) plus the FULL row count; the
  * DuckDB side (tools/sf100_ts_gate.py) recreates the same subset by
  * filtering the `events` view before the UNCHANGED oracle SQL, compares
  * with symmetric EXCEPT ALL, and checks the full count against an
  * analytic spine-count oracle. Recorded in CORRECTNESS_sf100rel.json as
  * form="subset" — weaker than a full-frame hash, stronger than
  * count-only: full bit-fidelity on ~1/mod of every series' rows plus an
  * independently-derived total.
  *
  * Run: runMain graft.SubsetDump <sfDir> <outDir> <key>[,<key>...] [mod]
  */
object SubsetDump {
  /** Dumps key `key`'s `user_id % mod == 0` subset to `out` and returns
    * its full row count: one build of `fn`, seeded from the frame it
    * counts and writes. Engine-default geometry, same as Verify (the gate
    * certifies the plans users actually get); analysis failure degrades
    * to the default seed instead of aborting the dump (ADVICE r17). */
  private[graft] def dumpKey(
      spark: SparkSession, sfDir: String, seeder: AutoParts.Seeder, key: String,
      fn: (SparkSession, String) => DataFrame, out: String, mod: Int): Long = {
    val df = fn(spark, sfDir)
    seeder(key, df)
    require(df.columns.contains("user_id"),
      s"$key has no user_id series column — the subset form does not apply")
    val total = df.count()
    df.filter(pmod(col("user_id"), lit(mod)) === 0)
      .write.mode("overwrite").parquet(out)
    total
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val keys = args(2).split(",").toSeq
    val mod = args.lift(3).map(_.toInt).getOrElse(97)
    val cpus = Harness.cpus(32)
    val spark = Harness.session(32)
    val seeder = new AutoParts.Seeder(spark, cpus, "subsetdump")
    keys.foreach { key =>
      val total = dumpKey(spark, sfDir, seeder, key, Registry.byName(key).fn, s"$outDir/$key", mod)
      println(s"""{"key":"$key","rows_total":$total,"mod":$mod}""")
    }
    spark.stop()
  }
}
