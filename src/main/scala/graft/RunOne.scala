package graft

/** Dev tool: run ONE SparkEntry query by key and print its rows (or its
  * formatted plan with --explain) — the fast inner loop for checking a new
  * operator against the DuckDB oracle before the driver's full Verify pass.
  *
  *   sbt "runMain graft.RunOne q_ts_drift /root/testdata/sf0.01"
  *   sbt "runMain graft.RunOne q_ts_drift /root/testdata/sf0.01 --explain"
  *   sbt "runMain graft.RunOne q_agg_kll_mv /root/testdata/sf0.01 --check"
  *
  * `--check` runs the key's PropertyChecks verdict (no-oracle keys, plus
  * the pair-graph family's guard-scale verdicts)
  * instead of the query — the fast inner loop for a verification fix,
  * instead of the full 25-minute Verify pass it is normally embedded in.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val key = args(0)
    val sfDir = args(1)
    val explain = args.contains("--explain")
    // SPARK_GRAFT_CPUS (default 8 — the fast inner loop): the sf100 gate
    // sets 32, where 8 threads would stretch the heavy checks by ~4x
    val spark = Harness.session(8, logLevel = "ERROR")
    if (args.contains("--check")) {
      // no-oracle keys live in `checks`; the oracle'd pair-graph family has
      // guard-scale verdicts in `scaleChecks` (the DuckDB oracle cannot
      // follow the MinHash edge path past the candidate gate)
      val check = ops.PropertyChecks.checks.get(key)
        .orElse(ops.PropertyChecks.scaleChecks.get(key))
        .getOrElse {
          val have = (ops.PropertyChecks.checks.keySet ++
            ops.PropertyChecks.scaleChecks.keySet).toSeq.sorted
          sys.error(s"no --check verdict for '$key' (its correctness gate " +
            s"is the DuckDB oracle — run without --check). Keys with " +
            s"verdicts: ${have.mkString(", ")}")
        }
      val (depth, verdict) = check(spark, sfDir)
      println(s"== $key [$depth] ==")
      verdict match {
        case Right(ok)  => println(s"PASS: $ok")
        case Left(fail) => println(s"FAIL: $fail"); spark.stop(); sys.exit(1)
      }
      spark.stop()
      return
    }
    val df = SparkEntry.queries(key)(spark, sfDir)
    if (explain) df.explain("formatted")
    else {
      val rows = df.collect()
      println(s"== $key: ${rows.length} rows ==")
      rows.take(50).foreach(println)
      if (rows.length > 50) println(s"... (${rows.length - 50} more)")
    }
    spark.stop()
  }
}
