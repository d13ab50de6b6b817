package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import Harness.jq
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Dumps key `name` to `out`: one build of `fn`, seeded from the frame
    * it writes. */
  private[graft] def dumpKey(
      spark: SparkSession, sfDir: String, seeder: AutoParts.Seeder, name: String,
      fn: (SparkSession, String) => DataFrame, out: String, coalesceOne: Boolean): Unit = {
    val df = fn(spark, sfDir)
    seeder(name, df)
    (if (coalesceOne) df.coalesce(1) else df).write.mode("overwrite").parquet(out)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Subset lever (mirrors Bench's SPARK_GRAFT_BENCH_ONLY): a
    // comma-separated key list restricts the dump + oracle manifest to
    // those keys — the fast inner loop for checking ONE new operator
    // against verify_local.py without the full-registry pass. Unset =
    // everything runs.
    val only = Harness.config.verifyKeys
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val cpus = Harness.cpus(4)
    // plain int64 micros so the DuckDB oracle reads identical timestamps
    val spark = Harness.session(4, Seq("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    new java.io.File(outDir).mkdirs()
    // key -> first exception line, for failures.json: a failed query must be
    // diagnosable from the driver artifacts alone, not from a discarded
    // stderr tail (the r8 diagnosis cost a full round-trip).
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // one artifact: a JSON object of key -> JSON value
    def write(file: String, entries: Iterable[(String, String)]): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"),
        entries.map { case (k, v) => s"${jq(k)}: $v" }.mkString("{", ",", "}"))
    def writeFailures(): Unit = write("failures.json", failures.map { case (k, v) => k -> jq(v) })
    // a failed in-run verdict also lands in failures.json, so one artifact
    // carries every red flag
    def flag(kind: String, k: String, r: Either[String, String]): Unit =
      r.left.foreach { msg =>
        failures(s"$kind:$k") = msg
        System.err.println(s"[verify] $kind $k FAILED: $msg")
      }
    // Fail loudly ONCE if the testdata's physical schemas drifted from what
    // the readers handle (r8: a silent upstream regen broke 63 queries) —
    // but write failures.json FIRST so the abort is diagnosable from driver
    // artifacts alone (Bench already did this; Verify didn't, r9 advice).
    try U.probeTables(spark, sfDir)
    catch {
      case e: IllegalStateException =>
        failures("_schema_probe") =
          e.getMessage.linesIterator.take(4).mkString(" | ")
        writeFailures()
        spark.stop()
        throw e
    }
    // SPARK_GRAFT_VERIFY_COALESCE=0 skips the single-file coalesce: at the
    // sf100 gate a 260 M-row dump through coalesce(1) serializes the final
    // window sort + parquet write into ONE task. The DuckDB compare globs
    // <dump>/*.parquet, so a multi-part dump verifies identically; default
    // stays 1 (the driver's sf0.01 artifact layout, one tidy file per key).
    val coalesceOne = Harness.config.verifyCoalesce
    // per-query AQE seed, auto by default since r16 (AutoParts.autoEnabled;
    // numeric env / -D pins disable it) — the same engine-default geometry
    // Bench/QTime run, so the correctness gate certifies the plans users
    // actually get. Analysis failure degrades to the session default.
    val seeder = new AutoParts.Seeder(spark, cpus, "verify")
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try dumpKey(spark, sfDir, seeder, name, fn, s"$outDir/$name", coalesceOne)
      catch { case e: Throwable =>
        val first = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(3).mkString(" | ")
        failures(name) = s"${e.getClass.getSimpleName}: $first"
        System.err.println(s"[verify] $name failed: $first")
      }
      // The written parquet is the result; the query's localCheckpoint
      // scratch blocks would otherwise accumulate across all 176 dumps
      // (MatCache artifacts survive; the shared byte threshold keeps the
      // sweep dormant until leftovers reach the scale that actually
      // starves later queries — see MatCache.harnessSweep).
      MatCache.harnessSweep(spark, blocking = false)
    }
    write("oracle_sql.json",
      SparkEntry.oracleSql.filter(kv => selected(kv._1)).map { case (k, v) => k -> jq(v) })
    // machine-readable companion: how each no-oracle key IS verified
    write("no_oracle_verification.json",
      Registry.propertyVerification.map { case (k, v) => k -> jq(v) })
    // ... and the VERDICTS: each no-oracle key re-verified inside this run
    // (r9 advice item 6 — the driver artifact no longer has to trust that
    // the ScalaTest twins ran).
    val propResults = ops.PropertyChecks.runAll(spark, sfDir, selected)
    write("no_oracle_results.json", propResults.map { case (k, depth, r) =>
      k -> s"{\"ok\": ${r.isRight}, \"depth\": ${jq(depth)}, \"detail\": ${jq(r.merge)}}"
    })
    propResults.foreach { case (k, _, r) => flag("property", k, r) }
    // Streaming verdicts (r12): the 16 group-J kernels + MV readers were
    // verified only in ScalaTest; StreamChecks re-runs their batch-
    // equivalence / replay-idempotence cores HERE so the driver artifact
    // carries the whole engine surface. Skipped when a VERIFY_ONLY subset
    // is active (the fast single-key inner loop); a full run always
    // runs it.
    if (only.isEmpty) {
      val streamResults = streaming.StreamChecks.runAll(spark)
      write("streaming_results.json", streamResults.map { case (k, covers, r) =>
        k -> (s"{\"ok\": ${r.isRight}, \"covers\": [${covers.map(jq).mkString(",")}], " +
          s"\"detail\": ${jq(r.merge)}}")
      })
      streamResults.foreach { case (k, _, r) => flag("streaming", k, r) }
    }
    writeFailures()
    spark.stop()
  }
}
