package graft
import org.apache.spark.sql.DataFrame
import Harness.{fixed, jq}
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
  /** The canary fragment of the main JSON line. */
  private[graft] def canaryFragment(probes: Int, startSec: Double, endSec: Double): String =
    s""","canary":{"probes":$probes,"start_sec":${fixed(startSec)},"end_sec":${fixed(endSec)},"drift":${fixed(endSec / startSec)}}"""

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
    s""","$field":${fixed(t * CanaryRefSec / canaryMean)}"""

  /** The host-speed estimate for a series: the mean of the canary probes
    * timed just before and just after it, None (no normalized field) when
    * either probe failed. The count series is bracketed by (start, end),
    * the hash series, which runs after the end probe, by (end, after hash). */
  private[graft] def bracketMean(before: Option[Double], after: Option[Double]): Option[Double] =
    (before, after) match {
      case (Some(a), Some(b)) if a > 0 && b > 0 => Some((a + b) / 2)
      case _ => None
    }

  /** One timed series: each key's minimum seconds over the timed passes
    * in key order (-1 when any pass failed), and the first error line of
    * each key that failed. */
  private[graft] final case class Series(best: Seq[(String, Double)], errors: Seq[(String, String)]) {
    def failed: Seq[String] = best.collect { case (k, v) if v < 0 => k }
    // A failed query must make the headline number WORSE, not better, for a
    // lower-is-better gate: a negative or zero total would trivially pass
    // `value <= 2x baseline` on a fully broken build (fail-open). 1e9 s
    // fails ANY latency threshold closed; the failed list carries the
    // detail.
    def total: Double = if (failed.nonEmpty) 1e9 else best.map(_._2).sum
    def failedJson: String = failed.map(jq).mkString("[", ",", "]")
    def queriesJson: String =
      best.map { case (k, v) => s"${jq(k)}:$v" }.mkString("{", ",", "}")
    def errorsJson: String =
      errors.map { case (k, v) => s"${jq(k)}:${jq(v)}" }.mkString("{", ",", "}")
  }

  /** The pair printed when the schema probe fails: both lines carry the
    * same failed list — tooling keying off either line must see the probe
    * failure (r9 advice: they disagreed). */
  private[graft] def probeFailedLines(sfDir: String, reason: String): (String, String) = (
    s"""{"metric":"total","value":1.0E9,"unit":"sec","queries":{},"failed":["_schema_probe"],"errors":{"_schema_probe":${jq(reason)}},"sf":${jq(sfDir)}}""",
    s"""{"metric":"total","short":true,"value":1.0E9,"unit":"sec","n":0,"failed":["_schema_probe"],"sf":${jq(sfDir)}}""")

  /** The end of every line after the probe: the scaling contract, made
    * legible (VERDICT r18 item 2) — a low-core rerun compares
    * per-query times across SPARK_GRAFT_CPUS values, and r18's artifact
    * carried no proof of which core count actually ran, so every line
    * carries both the requested count and what the scheduler gave. */
  private[graft] def lineTail(cpus: Int, defaultParallelism: Int, sfDir: String): String =
    s""","cpus":$cpus,"default_parallelism":$defaultParallelism,"sf":${jq(sfDir)}}"""

  /** "subset" marks a SPARK_GRAFT_BENCH_ONLY run (`registry` = the full
    * registry's size) so a partial-registry probe artifact can never be
    * mistaken for a full-registry total. */
  private def subsetFragment(s: Series, registry: Option[Int]): String =
    registry.map(r => s""","subset":${s.best.size},"registry":$r""").getOrElse("")

  /** The full count line (also written to `bench_full.json`). `canary`
    * and `norm` are fragments; `norm` is empty when the canary failed. */
  private[graft] def countLine(
      s: Series, passes: Int, registry: Option[Int], canary: String, norm: String, tail: String): String =
    s"""{"metric":"total","value":${s.total},"unit":"sec","queries":${s.queriesJson},"passes":$passes,"agg":"min","failed":${s.failedJson},"errors":${s.errorsJson}${subsetFragment(s, registry)}$canary$norm$tail"""

  /** The full hash line (the hash series' artifact). */
  private[graft] def hashLine(
      h: Series, passes: Int, registry: Option[Int], countTotal: Double, norm: String, tail: String): String =
    s"""{"metric":"total_hash","value":${h.total},"unit":"sec","consumer":"xxhash64-struct (QTime.hashConsumer)","queries":${h.queriesJson},"passes":$passes,"agg":"min","failed":${h.failedJson},"errors":${h.errorsJson}${subsetFragment(h, registry)},"count_total_same_jvm":$countTotal$norm$tail"""

  /** A short headline line: the provisional and final count lines, and
    * the hash short line. */
  private[graft] def shortLine(
      metric: String, s: Series, norm: String, tail: String,
      provisional: Boolean = false, totalHash: Option[Double] = None): String = {
    val flag = if (provisional) ""","provisional":true""" else ""
    val hash = totalHash.map(h => s""","total_hash":$h""").getOrElse("")
    s"""{"metric":"$metric","short":true$flag,"value":${s.total},"unit":"sec","n":${s.best.size},"failed":${s.failedJson}$hash$norm$tail"""
  }

  private def firstLines(e: Throwable): String =
    s"${e.getClass.getSimpleName}: " + Option(e.getMessage).getOrElse(e.getClass.getName)
      .linesIterator.take(2).mkString(" | ")

  def main(args: Array[String]): Unit = {
    val cfg = Harness.config
    val sfDir = cfg.sfDir
    val cpus = Harness.cpus(32)
    val passes = cfg.benchPasses
    // Optional subset: the 100x scale probe benches only the data-bound
    // tail — rerunning all 176 fixed-overhead queries at sf10 would cost
    // ~30 min to re-measure constants already pinned at sf1.
    val only = cfg.benchKeys
    // the "size shuffle partitions to the SF" lever: a NUMERIC
    // SPARK_GRAFT_INIT_PARTITIONS pins the builder seed above the thread
    // count so heavy exchanges sort/spill in smaller chunks, and AQE
    // coalesces the small stages right back down; otherwise (auto mode —
    // the r16 default — or "off"/"default") the builder seed stays cpus so
    // non-plan-derived work (canary probes, warmup) keeps the r1-r10
    // behavior and per-query auto overrides are set per query
    val spark = Harness.session(32, Seq(AutoParts.SeedConf -> cfg.pinnedSeed.getOrElse(cpus.toString)))

    // Durable copy of the full main JSON line: a tail capture of stdout lost
    // half the per-query map in round 9, so the line is also written to a
    // file the way Verify writes failures.json (path overridable for tests).
    def persist(path: String, line: String, tag: String): Unit =
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(path), line + "\n")
      catch { case e: Exception => System.err.println(s"[$tag] write $path failed: $e") }

    // Schema drift fails the whole run, but still emits the fail-closed JSON
    // line WITH the reason — a probe failure must be diagnosable from the
    // captured stdout alone (r8's 63-query failure carried no reasons).
    try U.probeTables(spark, sfDir)
    catch {
      case e: IllegalStateException =>
        val (full, short) =
          probeFailedLines(sfDir, e.getMessage.linesIterator.take(4).mkString(" | "))
        println(full)
        persist(cfg.benchOut, full, "bench")
        println(short)
        spark.stop()
        return
    }

    val queries = SparkEntry.queries.toSeq
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .sortBy(_._1)

    // per-query AQE seed — auto is the DEFAULT since r16 (numeric /
    // "off" / "default" env values disable it; AutoParts.autoEnabled);
    // applied OUTSIDE every timed region — the plan analysis it does must
    // never land inside a measurement — and restored to the builder seed
    // after each query (and so before any canary probe): without this the
    // LAST query's auto seed leaked into canaryEnd and into any query whose
    // plan analysis threw (ADVICE r15)
    val seeder = new AutoParts.Seeder(spark, cpus, "bench")

    // One series: an untimed warm pass over ALL queries (every
    // join/agg/window/expression codegen path compiles here, not inside a
    // timed pass), `afterWarm`, then `passes` timed passes keeping each
    // query's minimum.
    def series(tag: String, consume: DataFrame => Unit)(afterWarm: => Unit): Series = {
      queries.foreach { case (name, fn) =>
        seeder(name, fn(spark, sfDir))
        try consume(fn(spark, sfDir))
        catch { case e: Throwable => System.err.println(s"[$tag] warm $name failed: $e") }
        seeder.restore()
        MatCache.harnessSweep(spark, blocking = true)
      }
      afterWarm
      val best = scala.collection.mutable.Map.empty[String, Double]
      // key -> first exception line from the most recent failure
      val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
      for (_ <- 1 to passes; (name, fn) <- queries) {
        seeder(name, fn(spark, sfDir))
        val t0 = System.nanoTime()
        val ok =
          try { consume(fn(spark, sfDir)); true }
          catch {
            case e: Throwable =>
              System.err.println(s"[$tag] $name failed: $e")
              errors(name) = firstLines(e)
              false
          }
        // -1 sentinel: a failed query must not masquerade in the JSON as a
        // fast success (and must not be replaced by a later passing time)
        val t = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        best(name) =
          if (t < 0 || best.getOrElse(name, Double.MaxValue) < 0) -1.0
          else math.min(best.getOrElse(name, Double.MaxValue), t)
        seeder.restore()
        // Outside the timed region: the previous query's localCheckpoint
        // scratch blocks are dead weight that starves later queries'
        // execution memory in a long shared JVM (SURVEY §2.12 item 5);
        // MatCache's deliberate artifacts survive the sweep, so the
        // measured cross-query amortization is unchanged. Blocking, so
        // removal finishes here and not inside the next measurement. The
        // byte threshold (MatCache.harnessSweep) keeps the sweep dormant
        // at gate scales, where unconditional sweeping cost 2-17% wall
        // at sf0.1.
        MatCache.harnessSweep(spark, blocking = true)
      }
      Series(queries.map { case (name, _) => name -> best(name) }, errors.toSeq)
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
    // a canary timing, None when the probe failed (or `run` is false: a
    // later probe is skipped once the first one failed)
    def probe(run: Boolean): Option[Double] =
      try if (run) Some(canaryTime()) else None
      catch {
        case e: Throwable =>
          canaryError = Some(s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
          None
      }

    var canaryStart: Option[Double] = None
    val counts = series("bench", _.count()) { canaryStart = probe(run = true) }
    val canaryEnd = probe(canaryStart.isDefined)
    val canaryJson = (canaryStart, canaryEnd) match {
      case (Some(a), Some(b)) if a > 0 => canaryFragment(canaryProbes.size, a, b)
      case _ =>
        s""","canary":{"probes":${canaryProbes.size},"error":${jq(canaryError.getOrElse("unknown"))}}"""
    }
    // Normalization uses the mean of the probes bracketing the series —
    // the best single host-speed estimate for it — and is omitted (not
    // faked) when the canary itself failed.
    def normJson(field: String, t: Double, mean: Option[Double]): String =
      mean.map(normFragment(field, t, _)).getOrElse("")
    val total = counts.total
    val countNorm = normJson("total_canary_norm", total, bracketMean(canaryStart, canaryEnd))
    val tail = lineTail(cpus, spark.sparkContext.defaultParallelism, sfDir)
    val registry = only.map(_ => SparkEntry.queries.size)
    val full = countLine(counts, passes, registry, canaryJson, countNorm, tail)
    println(full)
    persist(cfg.benchOut, full, "bench")
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
    // speeds (SCALING.md consumer caveat). This second series re-times the
    // SAME keys through QTime.hashConsumer (xxhash64 over every output
    // column — nothing prunable) and writes a separate artifact, so a
    // future regression in a column-appending plan is visible without
    // breaking the count series. Runs AFTER the main line so a failure
    // here can never cost the run its headline number; disabled by
    // an empty SPARK_GRAFT_HASH_BENCH_OUT.
    val hashOut = cfg.hashBenchOut
    // hash-series total, surfaced on the FINAL stdout line below (r16;
    // VERDICT r15 nit: the hash short line printed last, so the driver's
    // BENCH_r15.json headline silently became total_hash and broke the
    // r01-r14 count series)
    var hashTotal: Option[Double] = None
    if (hashOut.nonEmpty) {
      // Crash insurance for the hash series (ADVICE r17): an OOM kill in the
      // series below is not catchable, and with no short line yet emitted
      // a consumer keying BENCH_r{N}.json off the LAST short JSON line
      // would lose the run's count-comparable headline entirely. Flush a
      // provisional short headline first — "provisional":true keeps it
      // distinguishable from the final line (the r16 double-count concern),
      // and when the run completes normally the final line still prints
      // last and wins.
      println(shortLine("total", counts, countNorm, tail, provisional = true))
      System.out.flush()
      try {
        val hashes = series("bench-hash", QTime.evalRows(_, forceHash = true))(())
        // a third probe closes the hash series' own bracket: host drift
        // during the hash passes must show in its normalization
        val canaryAfterHash = probe(canaryStart.isDefined)
        val hashNorm = normJson(
          "total_hash_canary_norm", hashes.total, bracketMean(canaryEnd, canaryAfterHash))
        persist(hashOut, hashLine(hashes, passes, registry, total, hashNorm, tail), "bench-hash")
        println(shortLine("total_hash", hashes, hashNorm, tail))
        hashTotal = Some(hashes.total)
      } catch { case e: Throwable =>
        System.err.println(s"[bench-hash] series failed: $e")
      }
    }
    // FINAL stdout line = the ONE short count-comparable headline (see the
    // comment at the main line print), carrying the hash total as an extra
    // field: the driver keys BENCH_r{N}.json off the LAST short JSON line,
    // which in r15 was the hash short line — this keeps "value"
    // count-comparable across rounds by construction while still carrying
    // the plan-true twin.
    println(shortLine("total", counts, countNorm, tail, totalHash = hashTotal))
    spark.stop()
  }
}
