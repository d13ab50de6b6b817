package graft

import org.apache.spark.sql.functions._

/** Every declared operator runs at sf0.001, is deterministic (two runs
  * produce identical rows), and keys/oracles are consistent (SURVEY.md §5.2).
  */
class RegistrySpec extends SparkSpec {

  test("registry has no duplicate keys") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size === names.size)
  }

  test("oracle keys are a subset of query keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry (flagship R2 range scan) returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every no-oracle key has a declared property-verification twin, and only those") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(Registry.propertyVerification.keySet === noOracle,
      s"missing: ${noOracle -- Registry.propertyVerification.keySet}; " +
        s"stale: ${Registry.propertyVerification.keySet -- noOracle}")
  }

  test("every registry key is documented in SURVEY.md (no doc drift)") {
    // the round-5 verdict flagged SURVEY lagging the code by 7 keys; this
    // pins the invariant so a new operator ships with its name in the
    // blueprint. Word-boundary match, not bare substring, so a key cannot
    // be "documented" by being a prefix of a longer documented key; a
    // full-row check is not possible because §2.4 legitimately documents
    // sibling keys in combined rows ("q_tpch_q3 / q5").
    val survey = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val missing = Registry.all.map(_.name).filterNot { k =>
      ("(?<![a-z0-9_])" + java.util.regex.Pattern.quote(k) + "(?![a-z0-9_])").r
        .findFirstIn(survey).isDefined
    }
    assert(missing.isEmpty, s"SURVEY.md does not mention: $missing")
  }

  test("every Streams.*/Layout.* member SURVEY.md names exists (no streaming doc drift)") {
    // the round-7 verdict found SURVEY §2.8 documenting Streams.upsertSink
    // before it existed — the query-key guard above can't see non-query
    // components, so every `Streams.x` / `Layout.x` mention in SURVEY must
    // resolve to a real member via reflection
    val survey = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    def members(o: AnyRef): Set[String] =
      o.getClass.getMethods.map(_.getName).toSet
    val have = Map(
      "Streams" -> members(graft.streaming.Streams),
      "Layout" -> members(graft.sources.Layout))
    val mentioned = "(Streams|Layout)\\.([A-Za-z_][A-Za-z0-9_]*)".r
      .findAllMatchIn(survey)
      .map(m => (m.group(1), m.group(2)))
      .toSet
    val missing = mentioned.filterNot { case (o, m) => have(o).contains(m) }
    assert(missing.isEmpty,
      s"SURVEY.md names nonexistent members: ${missing.map { case (o, m) => s"$o.$m" }}")
  }

  test("every no-oracle key has an in-engine PropertyChecks verdict, and only those") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(ops.PropertyChecks.checks.keySet === noOracle,
      s"missing: ${noOracle -- ops.PropertyChecks.checks.keySet}; " +
        s"stale: ${ops.PropertyChecks.checks.keySet -- noOracle}")
    // direct cross-map pin (r10 advice): the declared verification twin map
    // and the in-engine check map cannot drift from EACH OTHER either
    assert(Registry.propertyVerification.keySet === ops.PropertyChecks.checks.keySet)
  }

  test("every public Streams kernel is covered by a StreamChecks verdict") {
    // r12 (VERDICT r11 item 3): streaming_results.json must list every
    // public member of the streaming surface — a new kernel cannot ship
    // invisible to the driver artifact. Reflection over the object's
    // declared public methods (synthetics and default-arg helpers carry
    // '$'; Object's own methods are not declared here).
    val pub = graft.streaming.Streams.getClass.getDeclaredMethods
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers))
      .map(_.getName)
      .filterNot(_.contains("$"))
      .toSet
    val covered = graft.streaming.StreamChecks.coveredKernels
    assert(covered.subsetOf(pub),
      s"StreamChecks claims nonexistent kernels: ${covered -- pub}")
    assert(pub.subsetOf(covered),
      s"public Streams kernels with no streaming_results.json verdict: ${pub -- covered}")
  }

  test("§2.13 lint: no TsOps emission carries an engine-defined rounding op") {
    // r12 (VERDICT r11 item 8): the no-round()/davgMicro/rank-median rules
    // were prose; this walks every TsOps key's ANALYZED plan for
    // Round/BRound expressions (catches helper-hidden rounding, not just
    // source text) and greps the mirrored oracle SQL — a round-13
    // contributor cannot reintroduce the half-boundary class. round() in
    // OTHER families (cosine/jaccard round-4 emissions) is a settled,
    // oracle-mirrored convention outside §2.13's scope.
    import org.apache.spark.sql.catalyst.expressions.{BRound, Round}
    val offending = ops.TsOps.qs.flatMap { q =>
      val plan = q.fn(spark, sfDir).queryExecution.analyzed
      val inPlan = plan.collect { case node =>
        node.expressions.flatMap(_.collect {
          case r: Round  => s"${q.name}: ${r.sql}"
          case r: BRound => s"${q.name}: ${r.sql}"
        })
      }.flatten
      val inOracle =
        if (q.oracle.exists(_.toLowerCase.contains("round(")))
          Seq(s"${q.name}: round( in oracle SQL")
        else Nil
      inPlan ++ inOracle
    }
    assert(offending.isEmpty,
      s"§2.13 violations (use davgMicro / floor(x*scale+0.5) / rank medians):\n" +
        offending.mkString("\n"))
    // the lint must be able to FIRE: a deliberately violating plan is seen
    val bad = U.events(spark, sfDir)
      .select(org.apache.spark.sql.functions.round(col("value"), 2).as("v"))
    val hits = bad.queryExecution.analyzed.collect { case node =>
      node.expressions.flatMap(_.collect { case r: Round => r })
    }.flatten
    assert(hits.nonEmpty, "lint fixture: Round expression not detected")
  }

  test("lint: no registry plan contains an unpartitioned Window operator") {
    // r16 (VERDICT r15 item 3): an unpartitioned window moves EVERY row to
    // one partition — q_graph_degrees carried the registry's last one (a
    // global rank over the near-dup node list, corpus-scaled on
    // boilerplate-heavy data) until the degree-histogram offset rewrite.
    // This walks every registry key's OPTIMIZED plan so the class stays
    // dead, the same enforcement move that killed Round/BRound in r12.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offending = Registry.all.flatMap { q =>
      q.fn(spark, sfDir).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty =>
          s"${q.name}: ${w.windowExpressions.map(_.sql).mkString(", ")}"
      }
    }
    assert(offending.isEmpty,
      s"unpartitioned Window (single-partition sort of the whole input; " +
        s"use the histogram-offset recipe):\n${offending.mkString("\n")}")
    // the lint must be able to FIRE: a deliberately violating plan is seen
    val bad = U.events(spark, sfDir).withColumn(
      "r",
      row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts"))))
    val hits = bad.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(hits.nonEmpty, "lint fixture: unpartitioned Window not detected")
  }

  test("all PropertyChecks verdicts pass at STRONG depth (the no_oracle_results.json gate)") {
    val results = ops.PropertyChecks.runAll(spark, sfDir)
    val failed = results.collect { case (k, _, Left(m)) => s"$k: $m" }
    assert(failed.isEmpty, failed.mkString("\n"))
    // r11: every check runs its bit-exact/strong path at verification scale
    // — the invariant fallbacks only engage past the driver-replay budget
    val weak = results.collect { case (k, depth, _) if depth != "strong" => s"$k: $depth" }
    assert(weak.isEmpty, s"non-strong verdicts at test scale: $weak")
  }

  test("MatCache builds once per (session, key) and isolates keys") {
    var builds = 0
    def build() = { builds += 1; spark.range(3).toDF("x") }
    val k = s"registryspec-cache-${System.nanoTime()}"
    val a = MatCache.df(spark, k)(build())
    val b = MatCache.df(spark, k)(build())
    assert(builds === 1, "second lookup must hit the cache, not rebuild")
    assert(a eq b, "cache must return the same DataFrame instance")
    MatCache.df(spark, k + ":other")(build())
    assert(builds === 2, "a different key must build independently")
  }

  test("MatCache values: one build per (session, key), nested lookups, no sharing across sessions") {
    val k = s"registryspec-value-${System.nanoTime()}"
    var builds = 0
    def outer(s: org.apache.spark.sql.SparkSession): Long =
      MatCache.value(s, k) {
        builds += 1
        // a builder that reads another entry, as the pair graph reads the
        // doc count
        MatCache.value(s, k + ":inner") { builds += 1; 20L } + 1L
      }
    assert(outer(spark) === 21L)
    assert(outer(spark) === 21L)
    assert(builds === 2, "a hit must not rebuild, inner or outer")
    val other = spark.newSession()
    assert(outer(other) === 21L)
    assert(builds === 4, "another session builds its own entries")
  }

  test("the pair-graph family keeps one connected-components kernel and one session cache") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 40, s"premise: the main sources are under $root")
    def hits(pattern: String): Seq[String] = {
      val re = pattern.r
      files.flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if re.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }
    }
    assert(hits("System\\.identityHashCode") === Nil, "a session key must be the session")
    assert(hits("spark\\.graft\\.internal\\.") === Nil, "memos live in MatCache, not in SQLConf")
    assert(hits("setCheckpointDir") === Nil, "a library call must not set the checkpoint dir")
    assert(hits("checkpointDir\\s*:\\s*Option") === Nil, "no reliable-checkpoint option")
    assert(hits("def connectedComponents").size === 1, "one connected-components kernel")
  }

  for (q <- Registry.all) {
    test(s"${q.name} runs and is deterministic at sf0.001") {
      val a = q.fn(spark, sfDir).collect()
      val b = q.fn(spark, sfDir).collect()
      assert(a.toSeq === b.toSeq, s"${q.name} not deterministic across runs")
    }
  }
}
