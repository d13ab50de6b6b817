package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{avg, col, count, lit, row_number, sum}

/** Benchmark harness. Timing discipline (why this is not a single-pass
  * loop): a single timed pass conflates JIT/codegen compilation, parquet
  * footer caching, and shuffle-service warmup with steady-state query cost —
  * measured r1-r3 spread on byte-identical plans was up to 2.2x total and
  * ~7x per query. So: one UNTIMED full pass over every query (compiles every
  * codegen path, primes file listings/footers), then `passes` timed passes,
  * reporting the per-query MIN — the standard steady-state estimator, robust
  * to one-off GC/scheduler noise in either pass.
  */
object Bench {
  /** `%.3f` under `Locale.ROOT`: a comma-decimal default locale (de_DE)
    * must not turn a JSON number into two. */
  private def f3(x: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, x)

  /** The canary fragment of the main JSON line. */
  private[graft] def canaryFragment(probes: Int, startSec: Double, endSec: Double): String =
    s""","canary":{"probes":$probes,"start_sec":${f3(startSec)},"end_sec":${f3(endSec)},"drift":${f3(endSec / startSec)}}"""

  // Canary-normalized totals (r19; VERDICT r18 items 2+5). The raw totals
  // ride whatever the host is doing (the r16→r18 hash series moved ±20%
  // on identical binaries, each time settled as drift by canaries and
  // same-binary A/Bs) — so the artifact also carries
  //   total × (CanaryRefSec / canary_mean)
  // a number in "reference-host seconds": cross-round comparable by
  // construction as long as the probe set and CanaryRefSec stay fixed.
  // CanaryRefSec = 1.0 is an arbitrary unit anchor (≈ the sf0.1 probe
  // set's cost on the r18-era host), not a measurement; only its
  // CONSTANCY matters.
  private val CanaryRefSec = 1.0

  /** A canary-normalized total fragment, `"field":<t in reference seconds>`. */
  private[graft] def normFragment(field: String, t: Double, canaryMean: Double): String =
    s""","$field":${f3(t * CanaryRefSec / canaryMean)}"""

  /** The host-speed estimate for a series: the mean of the canary probes
    * timed just before and just after it, None (no normalized field) when
    * either probe failed. The count series is bracketed by (start, end),
    * the hash series, which runs after the end probe, by (end, after hash). */
  private[graft] def bracketMean(before: Option[Double], after: Option[Double]): Option[Double] =
    (before, after) match {
      case (Some(a), Some(b)) if a > 0 && b > 0 => Some((a + b) / 2)
      case _ => None
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").trim.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // the "size shuffle partitions to the SF" lever: big-SF runs set
      // SPARK_GRAFT_INIT_PARTITIONS above the thread count so heavy
      // exchanges sort/spill in smaller chunks, and AQE coalesces the
      // small stages right back down — per-query overhead at the driver
      // scales is unchanged (default = cpus = the r1-r10 behavior)
      .config(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        // a NUMERIC env value pins the builder seed; otherwise (auto mode
        // — the r16 default — or "off"/"default") the builder seed stays
        // cpus so non-plan-derived work (canary probes, warmup) keeps the
        // r1-r10 behavior and per-query auto overrides are set per query
        sys.env.get("SPARK_GRAFT_INIT_PARTITIONS")
          .filter(v => v.nonEmpty && v.forall(_.isDigit)).getOrElse(cpus))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JSON string escape shared by the error map below.
    def jq(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    // Schema drift fails the whole run, but still emits the fail-closed JSON
    // line WITH the reason — a probe failure must be diagnosable from the
    // captured stdout alone (r8's 63-query failure carried no reasons).
    // Durable copy of the full main JSON line: a tail capture of stdout lost
    // half the per-query map in round 9, so the line is also written to a
    // file the way Verify writes failures.json (path overridable for tests).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    def persist(line: String): Unit =
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
      catch { case e: Exception => System.err.println(s"[bench] write $outPath failed: $e") }

    try U.probeTables(spark, sfDir)
    catch {
      case e: IllegalStateException =>
        val msg = jq(e.getMessage.linesIterator.take(4).mkString(" | "))
        // both lines carry the same failed list — tooling keying off either
        // line must see the probe failure (r9 advice: they disagreed)
        val mainLine = s"""{"metric":"total","value":1.0E9,"unit":"sec","queries":{},"failed":["_schema_probe"],"errors":{"_schema_probe":$msg},"sf":"$sfDir"}"""
        println(mainLine)
        persist(mainLine)
        println(s"""{"metric":"total","short":true,"value":1.0E9,"unit":"sec","n":0,"failed":["_schema_probe"],"sf":"$sfDir"}""")
        spark.stop()
        return
    }

    // Optional subset (comma-separated keys): the 100x scale probe benches
    // only the data-bound tail — rerunning all 176 fixed-overhead queries at
    // sf10 would cost ~30 min to re-measure constants already pinned at sf1.
    // Unknown keys fail loudly: a typo must not silently shrink the probe.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { keys =>
      val unknown = keys -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"SPARK_GRAFT_BENCH_ONLY unknown keys: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val queries = SparkEntry.queries.toSeq
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .sortBy(_._1)
    // key -> first exception line from the most recent failure
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def record(name: String, e: Throwable): Unit = {
      val first = Option(e.getMessage).getOrElse(e.getClass.getName)
        .linesIterator.take(2).mkString(" | ")
      errors(name) = s"${e.getClass.getSimpleName}: $first"
    }

    // Untimed warm pass over ALL queries: every join/agg/window/expression
    // codegen path compiles here, not inside a timed pass.
    // SPARK_GRAFT_SWEEP=0 is the A/B lever for measuring the sweep itself;
    // default on — a long shared JVM without it re-creates the sf10
    // contamination (SURVEY §2.12 item 5). The byte threshold (see
    // MatCache.harnessSweep) keeps the sweep dormant at driver scales
    // where scratch is harmless (measured: unconditional sweeping cost
    // 2-17% wall at sf0.1) and fires it at the GB-scale leftovers that
    // actually starve later queries.
    // per-query AQE seed — auto is the DEFAULT since r16 (numeric /
    // "off" / "default" env values disable it; AutoParts.autoEnabled);
    // called OUTSIDE every timed region — the plan analysis it does must
    // never land inside a measurement. Guarded on the mode BEFORE
    // constructing the DataFrame (ADVICE r15: the unconditional fn() call
    // built and analyzed every plan twice even with the lever off), and a
    // failure logs + resets to the builder default rather than silently
    // inheriting the previous query's seed.
    val autoMode = AutoParts.autoEnabled
    val builderSeed: String =
      sys.env.get("SPARK_GRAFT_INIT_PARTITIONS")
        .filter(v => v.nonEmpty && v.forall(_.isDigit)).getOrElse(cpus)
    // restore the builder-default seed after each query (and so before any
    // canary probe): without this the LAST query's auto seed leaked into
    // canaryEnd and into any query whose plan analysis threw (ADVICE r15)
    def resetAuto(): Unit = if (autoMode) spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum", builderSeed)
    def applyAuto(
        name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      if (autoMode)
        try AutoParts.applyIfAuto(name, fn(spark, sfDir), cpus.toInt)
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] auto-parts analysis failed, default seed: $e")
            resetAuto()
        }
    queries.foreach { case (name, fn) =>
      applyAuto(name, fn)
      try fn(spark, sfDir).count()
      catch { case e: Throwable => System.err.println(s"[bench] warm $name failed: $e") }
      resetAuto()
      MatCache.harnessSweep(spark, blocking = true)
    }

    // Host-noise canary (r12; VERDICT r11 item 7): identical code drifted
    // the sf0.1 headline 63-88 s across one day of host steal, so a
    // +20% round-over-round total was not attributable to code vs host
    // from the artifact alone. Time a small fixed probe set (min of 2,
    // the QTime convention) immediately before and after the timed
    // passes — same JVM, same data — and emit end/start as "drift":
    // ~1.0 means the host was steady and the headline is comparable;
    // well above 1.0 means the run was contaminated mid-flight and the
    // per-query MINs, not the total, are the trustworthy numbers.
    //
    // The probes are DEDICATED plans, deliberately NOT scored keys
    // (ADVICE r12): timing 5 registry keys here handed exactly those
    // keys two extra warm executions before their first timed pass,
    // biasing their MINs relative to the rest of the registry. These
    // cover the same execution surfaces (scan+agg, shuffle agg, window
    // sort) without touching any scored plan. Probe failures land in
    // the canary JSON object itself, not the failed/errors fields — a
    // host-noise instrument must not masquerade as a query failure.
    // Probes whose input table is absent are SKIPPED, not failed (ADVICE
    // r13): the sf100 probe corpus is documents+embeddings only, and an
    // all-or-nothing canary made host drift unmeasurable exactly at the
    // scales where runs are longest. The probe count used is emitted so
    // drift numbers are only ever compared like-for-like.
    val canaryProbes: Seq[() => Long] = {
      import org.apache.spark.sql.expressions.Window
      Seq(
        "lineitem" -> (() => spark.read.parquet(s"$sfDir/lineitem.parquet")
          .groupBy(col("l_linestatus"))
          .agg(sum(col("l_quantity")), avg(col("l_extendedprice"))).count()),
        "orders" -> (() => spark.read.parquet(s"$sfDir/orders.parquet")
          .filter(col("o_totalprice") > 1000.0)
          .groupBy(col("o_orderpriority")).count().count()),
        "events" -> (() => spark.read.parquet(s"$sfDir/events.parquet")
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("user_id")).orderBy(col("ts"))))
          .filter(col("rn") <= 3).count()),
        // doc_id only — the text column would make the canary itself a
        // multi-GB scan at sf100, and the canary must stay cheap
        "documents" -> (() => spark.read.parquet(s"$sfDir/documents.parquet")
          .groupBy(col("doc_id") % 16)
          .agg(count(lit(1)), sum(col("doc_id"))).count())
      ).collect {
        case (t, p) if new java.io.File(s"$sfDir/$t.parquet").exists() => p
      }
    }
    def canaryTime(): Double = {
      if (canaryProbes.isEmpty)
        throw new IllegalStateException(s"no canary probe tables in $sfDir")
      canaryProbes.map { p =>
        (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          p()
          (System.nanoTime() - t0) / 1e9
        }.min
      }.sum
    }
    var canaryError: Option[String] = None
    def noteCanary(e: Throwable): Unit = canaryError = Some(
      s"${e.getClass.getSimpleName}: " + Option(e.getMessage).getOrElse("")
        .linesIterator.take(1).mkString)
    val canaryStart =
      try Some(canaryTime())
      catch { case e: Throwable => noteCanary(e); None }

    // `passes` timed passes; keep the per-query minimum.
    val best = scala.collection.mutable.Map.empty[String, Double]
    for (_ <- 1 to passes) {
      queries.foreach { case (name, fn) =>
        applyAuto(name, fn)
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: $e")
              record(name, e)
              false
          }
        // -1 sentinel: a failed query must not masquerade in the JSON as a
        // fast success (and must not be replaced by a later passing time)
        val t = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        best(name) =
          if (t < 0 || best.getOrElse(name, Double.MaxValue) < 0) -1.0
          else math.min(best.getOrElse(name, Double.MaxValue), t)
        resetAuto()
        // Outside the timed region: the previous query's localCheckpoint
        // scratch blocks are dead weight that starves later queries'
        // execution memory in a long shared JVM (SURVEY §2.12 item 5);
        // MatCache's deliberate artifacts survive the sweep, so the
        // measured cross-query amortization is unchanged. Blocking, so
        // removal finishes here and not inside the next measurement.
        MatCache.harnessSweep(spark, blocking = true)
      }
    }

    val canaryEnd =
      try canaryStart.map(_ => canaryTime())
      catch { case e: Throwable => noteCanary(e); None }
    val canaryJson = (canaryStart, canaryEnd) match {
      case (Some(a), Some(b)) if a > 0 => canaryFragment(canaryProbes.size, a, b)
      case _ =>
        s""","canary":{"probes":${canaryProbes.size},"error":${jq(canaryError.getOrElse("unknown"))}}"""
    }
    // Normalization uses the mean of the probes bracketing the series —
    // the best single host-speed estimate for it — and is omitted (not
    // faked) when the canary itself failed.
    val countMean = bracketMean(canaryStart, canaryEnd)
    def normJson(field: String, t: Double, mean: Option[Double] = countMean): String =
      mean.map(normFragment(field, t, _)).getOrElse("")
    // the scaling contract, made legible (VERDICT r18 item 2): the driver's
    // low-core rerun compares per-query times across SPARK_GRAFT_CPUS
    // values, and r18's artifact carried no proof of which core count
    // actually ran — emit both the requested count and what the scheduler
    // actually gave us, on every JSON line the driver might key off
    val cpusJson =
      s""","cpus":$cpus,"default_parallelism":${spark.sparkContext.defaultParallelism}"""

    val results = queries.map { case (name, _) => name -> best(name) }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // A failed query must make the headline number WORSE, not better, for a
    // lower-is-better gate: a negative or zero total would trivially pass
    // `value <= 2x baseline` on a fully broken build (fail-open). 1e9 s
    // fails ANY latency threshold closed; the failed list carries the
    // detail.
    val failed = results.collect { case (k, v) if v < 0 => s"\"" + k + "\"" }
    val total =
      if (failed.nonEmpty) 1e9
      else if (results.nonEmpty) results.map(_._2).sum
      else 0.0
    val errJson = errors
      .map { case (k, v) => s"${jq(k)}:${jq(v)}" }.mkString("{", ",", "}")
    // "subset" marks a SPARK_GRAFT_BENCH_ONLY run so a partial-registry
    // probe artifact can never be mistaken for a full-registry total.
    val subset =
      if (only.isDefined) s""","subset":${results.size},"registry":${SparkEntry.queries.size}"""
      else ""
    val mainLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"passes":$passes,"agg":"min","failed":${failed
          .mkString("[", ",", "]")},"errors":$errJson$subset$canaryJson${normJson("total_canary_norm", total)}$cpusJson,"sf":"$sfDir"}"""
    println(mainLine)
    persist(mainLine)
    // The short count-headline summary prints ONCE, as the FINAL stdout
    // line after the hash series below (ADVICE r16: printing it both here
    // and at the end gave two identical-shape short lines, so a consumer
    // summing metric=total short records double-counted the run). The
    // final line always prints — the hash series runs inside its own
    // try/catch — so the rounds-4-6 tail-truncation protection (a short
    // line small enough to survive any tail window) is preserved.

    // ---- Plan-true parallel series (r15; VERDICT r14 item 6). The count()
    // consumer above is the cross-round comparable (BENCH_r{N}) and the
    // driver's baseline gate — but for pure column-appending plans (the
    // window family; q1's aggregate expressions) ColumnPruning deletes the
    // computed columns a count never reads, so those numbers are scan
    // speeds (SCALING.md consumer caveat). This second sweep re-times the
    // SAME keys through QTime.hashConsumer (xxhash64 over every output
    // column — nothing prunable) and writes a separate artifact, so a
    // future regression in a column-appending plan is visible without
    // breaking the count series. Runs AFTER both primary stdout lines so a
    // failure here can never cost the driver its headline number; disable
    // with SPARK_GRAFT_HASH_BENCH_OUT="".
    val hashOut = sys.env.getOrElse("SPARK_GRAFT_HASH_BENCH_OUT", "BENCH_hash.json")
    // hash-series total, surfaced on the FINAL stdout line below (r16;
    // VERDICT r15 nit: the hash short line printed last, so the driver's
    // BENCH_r15.json headline silently became total_hash and broke the
    // r01-r14 count series)
    var hashTotal: Option[Double] = None
    // Crash insurance for the hash series (ADVICE r17): an OOM kill in the
    // sweep below is not catchable, and with no short line yet emitted the
    // driver (which keys BENCH_r{N}.json off the LAST short JSON line)
    // would lose the run's count-comparable headline entirely. Flush a
    // provisional short headline first — "provisional":true keeps it
    // distinguishable from the final line (the r16 double-count concern),
    // and when the run completes normally the final line still prints
    // last and wins.
    if (hashOut.nonEmpty) {
      println(
        s"""{"metric":"total","short":true,"provisional":true,"value":$total,"unit":"sec","n":${results.size},"failed":${failed
            .mkString("[", ",", "]")}${normJson("total_canary_norm", total)}$cpusJson,"sf":"$sfDir"}""")
      System.out.flush()
    }
    if (hashOut.nonEmpty) try {
      val hashPasses = math.max(1,
        sys.env.getOrElse("SPARK_GRAFT_HASH_BENCH_PASSES", "2").trim.toInt)
      // untimed warm pass: the hash-consumer plans (window operators kept,
      // hash agg) codegen-compile here, not inside a timed pass
      val hErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
      queries.foreach { case (name, fn) =>
        applyAuto(name, fn)
        try QTime.evalRows(fn(spark, sfDir), forceHash = true)
        catch { case e: Throwable =>
          System.err.println(s"[bench-hash] warm $name failed: $e") }
        resetAuto()
        MatCache.harnessSweep(spark, blocking = true)
      }
      val hBest = scala.collection.mutable.Map.empty[String, Double]
      for (_ <- 1 to hashPasses) {
        queries.foreach { case (name, fn) =>
          applyAuto(name, fn)
          val t0 = System.nanoTime()
          val ok =
            try { QTime.evalRows(fn(spark, sfDir), forceHash = true); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench-hash] $name failed: $e")
              val first = Option(e.getMessage).getOrElse(e.getClass.getName)
                .linesIterator.take(2).mkString(" | ")
              hErrors(name) = s"${e.getClass.getSimpleName}: $first"
              false
            }
          val t = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
          hBest(name) =
            if (t < 0 || hBest.getOrElse(name, Double.MaxValue) < 0) -1.0
            else math.min(hBest.getOrElse(name, Double.MaxValue), t)
          resetAuto()
          MatCache.harnessSweep(spark, blocking = true)
        }
      }
      // a third probe closes the hash series' own bracket: host drift
      // during the hash passes must show in its normalization
      val canaryAfterHash =
        try canaryStart.map(_ => canaryTime())
        catch { case e: Throwable => noteCanary(e); None }
      val hashMean = bracketMean(canaryEnd, canaryAfterHash)
      val hResults = queries.map { case (name, _) => name -> hBest(name) }
      val hQs = hResults.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val hFailed = hResults.collect { case (k, v) if v < 0 => s"\"" + k + "\"" }
      val hTotal =
        if (hFailed.nonEmpty) 1e9
        else if (hResults.nonEmpty) hResults.map(_._2).sum
        else 0.0
      val hErrJson = hErrors
        .map { case (k, v) => s"${jq(k)}:${jq(v)}" }.mkString("{", ",", "}")
      val hashLine =
        s"""{"metric":"total_hash","value":$hTotal,"unit":"sec","consumer":"xxhash64-struct (QTime.hashConsumer)","queries":$hQs,"passes":$hashPasses,"agg":"min","failed":${hFailed
            .mkString("[", ",", "]")},"errors":$hErrJson$subset,"count_total_same_jvm":$total${normJson("total_hash_canary_norm", hTotal, hashMean)}$cpusJson,"sf":"$sfDir"}"""
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(hashOut), hashLine + "\n")
      catch { case e: Exception => System.err.println(s"[bench-hash] write $hashOut failed: $e") }
      println(s"""{"metric":"total_hash","short":true,"value":$hTotal,"unit":"sec","n":${hResults.size},"failed":${hFailed.mkString("[", ",", "]")}${normJson("total_hash_canary_norm", hTotal, hashMean)}$cpusJson,"sf":"$sfDir"}""")
      hashTotal = Some(hTotal)
    } catch { case e: Throwable =>
      System.err.println(s"[bench-hash] series failed: $e")
    }
    // FINAL stdout line = the ONE short count-comparable headline (see the
    // comment at the mainLine print), carrying the hash total as an extra
    // field: the driver keys BENCH_r{N}.json off the LAST short JSON line,
    // which in r15 was the hash short line — this keeps "value"
    // count-comparable across rounds by construction while still carrying
    // the plan-true twin.
    val hashField = hashTotal.map(h => s""","total_hash":$h""").getOrElse("")
    println(
      s"""{"metric":"total","short":true,"value":$total,"unit":"sec","n":${results.size},"failed":${failed
          .mkString("[", ",", "]")}$hashField${normJson("total_canary_norm", total)}$cpusJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
