package graft.ops

import graft.{Registry, U}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Machine-checkable verdicts for the no-oracle registry keys (r9 advice
  * item 6): `Registry.propertyVerification` NAMES each key's ScalaTest twin,
  * but the driver's correctness artifact had to trust that the suite ran.
  * These checks re-verify each no-oracle key inside `Verify` itself, so
  * `no_oracle_results.json` carries a pass/fail the driver can gate on
  * without trusting anything outside its own run.
  *
  * Depth discipline: wherever a key has an exact engine-expressible
  * counterpart, the check is STRONG — recompute the claimed values engine-
  * side (exact cosines, exact Jaccard, exact counts/quantiles) or replay the
  * bounded training loop / per-series fold driver-side, and compare
  * bit-for-bit. Since r11 the formerly invariant-depth keys
  * (`q_embed_kmeans`, `q_embed_pq`) run their DedupSimSpec bit-replays
  * HERE too (`q_graph_pagerank` graduated further, to a full DuckDB
  * oracle via unrolled integer CTEs): each replay is driver-side O(corpus)
  * work (n·k·iters·dim flops), cheap at every scale
  * Verify actually runs (sf0.01 driver gate, sf1 local probe = 20k
  * vectors). A corpus past the driver-replay budget falls back to the
  * structural invariants and the verdict RECORDS that depth — the `depth`
  * field in `no_oracle_results.json` is what actually ran, not a static
  * label. Every check returns Left(failure detail) or Right(pass detail).
  */
object PropertyChecks {

  /** A check returns the depth that actually ran plus its verdict. */
  type Check = (SparkSession, String) => (String, Either[String, String])

  /** Wrap a fixed-depth check (most checks run one depth unconditionally). */
  private def at(depth: String)(
      f: (SparkSession, String) => Either[String, String]): Check =
    (s, d) => (depth, f(s, d))

  /** Replays that `collect()` the corpus driver-side refuse past this many
    * rows (vectors / directed edges) and fall back to invariant depth —
    * the same discipline as [[SimOps]]' all-pairs guard, applied to the
    * verification harness itself. 50k × 64-dim doubles ≈ 26 MB: safely
    * inside any driver, 2.5× the sf1 probe corpus.
    */
  private val ReplayBudgetRows = 50000L

  private def dot(a: Column, b: Column): Column =
    graft.functions.VecDot.vecDot(a, b)
  private def norm(a: Column): Column = sqrt(dot(a, a))

  private def run(s: SparkSession, d: String, key: String): DataFrame =
    Registry.byName(key).fn(s, d)

  /** Exact cosine (round 4) of every row's vec_id against the vec_id=0
    * query vector — the genuineness oracle for all three ANN variants.
    */
  private def annGenuine(
      s: SparkSession, d: String, key: String): Either[String, String] = {
    val res = run(s, d, key).select(col("vec_id"), col("cos_sim"))
    val e = U.embeddings(s, d)
    val qv = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), norm(col("embedding")).as("qn"))
    val exact = e.crossJoin(broadcast(qv))
      .select(
        col("vec_id"),
        round(dot(col("embedding"), col("qv")) / (norm(col("embedding")) * col("qn")), 4)
          .as("exact_cos"))
    val bad = res.join(exact, "vec_id")
      .filter(abs(col("cos_sim") - col("exact_cos")) > 1e-9)
      .count()
    val n = res.count()
    if (bad > 0) Left(s"$bad/$n returned cosines differ from exact recompute")
    else Right(s"all $n returned cosines equal the exact recompute (strong)")
  }

  /** Recompute each reported pair's cosine with the IDENTICAL op order as
    * `q_dedup_embed_cosine`'s kernel (round(dot/(na·nb), 4)) — linear in
    * the result set, so it runs at every scale, including corpora where
    * the all-pairs twin itself is guard-refused.
    */
  private def exactCosOf(
      s: SparkSession, d: String, pairs: DataFrame): DataFrame = {
    val n = U.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    pairs
      .join(n.select(
        col("vec_id").as("a"), col("embedding").as("ea"), col("nrm").as("na")), "a")
      .join(n.select(
        col("vec_id").as("b"), col("embedding").as("eb"), col("nrm").as("nb")), "b")
      .withColumn("exact_cos",
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4))
      .drop("ea", "eb", "na", "nb")
  }

  /** Precision side without the all-pairs twin: membership in the exact
    * relation is (a < b) ∧ (exact cosine ≥ 0.35) ∧ (reported == exact),
    * each recomputed per REPORTED pair.
    */
  private def pairsPrecisionOnly(
      s: SparkSession, d: String, pairs: DataFrame,
      guardMsg: String): Either[String, String] = {
    val checked = exactCosOf(s, d, pairs)
    // the recompute joins are INNER: a reported vec_id absent from
    // embeddings would silently vanish instead of failing — count it
    val nChecked = checked.count()
    val nRes = pairs.count()
    val wrong = checked
      .filter(col("exact_cos") =!= col("cos_sim") ||
        col("cos_sim") < 0.35 || col("a") >= col("b"))
      .count()
    if (nChecked != nRes)
      Left(s"${nRes - nChecked}/$nRes reported pairs reference vec_ids " +
        "absent from the corpus")
    else if (wrong > 0) Left(s"$wrong/$nRes reported pairs not genuine exact pairs")
    else Right(s"precision 1: all $nRes reported cosines recomputed exact, " +
      ">= 0.35, a<b; all-pairs recall twin guard-refused at this corpus " +
      s"(${guardMsg.takeWhile(_ != ';').take(80)}) — recall verified at " +
      "guard-admitted scales + planted fixtures (strong, precision-only)")
  }

  /** Result pairs must be a subset of the exact all-pairs relation with
    * identical cosines (precision 1). Recall is reported, not gated — the
    * recall floor is established on planted fixtures in DedupSimSpec.
    * Where the all-pairs twin is guard-refused, degrades to
    * [[pairsPrecisionOnly]].
    */
  private def pairsSubsetOfExact(
      s: SparkSession, d: String, key: String,
      pairCols: (String, String)): Either[String, String] = {
    val (ca, cb) = pairCols
    val res = run(s, d, key)
      .select(col(ca).as("a"), col(cb).as("b"), col("cos_sim"))
    try {
      val exact = run(s, d, "q_dedup_embed_cosine")
      val wrong = res.join(
        exact.withColumnRenamed("cos_sim", "exact_cos"), Seq("a", "b"), "left")
        .filter(col("exact_cos").isNull ||
          abs(col("cos_sim") - col("exact_cos")) > 1e-9)
        .count()
      val nRes = res.count()
      val nEx = exact.count()
      if (wrong > 0) Left(s"$wrong/$nRes pairs not in the exact all-pairs relation")
      else Right(s"precision 1: all $nRes pairs exact (recall $nRes/$nEx; " +
        "recall floor gated on planted fixtures in DedupSimSpec) (strong)")
    } catch {
      case e: graft.ScaleGuardRefusal =>
        pairsPrecisionOnly(s, d, res, Option(e.getMessage).getOrElse(""))
    }
  }

  /** key -> check. The depth each check RAN is recorded in the JSON so a
    * consumer knows whether the verdict is a strong recompute or an
    * invariant.
    */
  val checks: Map[String, Check] = Map(
    "q_agg_approx_distinct" -> at("strong")((s, d) => {
      // rsd=0.02 (AggOps): gate at 5 sigma
      val res = run(s, d, "q_agg_approx_distinct")
      val exact = U.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      val bad = res.join(exact, "l_returnflag")
        .filter(abs(col("approx_parts") - col("exact_parts")) >
          greatest(lit(5.0), col("exact_parts") * 0.1))
        .count()
      if (bad > 0) Left(s"$bad groups outside 5x rsd bound of exact distinct")
      else Right("all groups within 5x rsd=0.02 of exact countDistinct (strong)")
    }),

    "q_agg_approx_quantile" -> at("strong")((s, d) => {
      // accuracy=1000 => rank error 1e-3; gate with a +-0.05 rank bracket
      val res = run(s, d, "q_agg_approx_quantile")
      val exact = U.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, 0.45)").as("lo50"),
          expr("percentile(l_extendedprice, 0.55)").as("hi50"),
          expr("percentile(l_extendedprice, 0.90)").as("lo95"),
          expr("percentile(l_extendedprice, 0.99)").as("hi95"))
      val bad = res.join(exact, "l_returnflag")
        .filter(col("p50") < col("lo50") || col("p50") > col("hi50") ||
          col("p95") < col("lo95") || col("p95") > col("hi95"))
        .count()
      if (bad > 0) Left(s"$bad groups outside the exact-quantile bracket")
      else Right("p50/p95 inside exact rank brackets [0.45,0.55]/[0.90,0.99] (strong)")
    }),

    "q_dedup_near_minhash" -> at("strong")((s, d) => {
      // (a) every reported jaccard equals the exact shingle-set Jaccard;
      // (b) no exact pair at 0.8 (the oracle'd relation) is missed
      val res = run(s, d, "q_dedup_near_minhash")
      val sh = U.shingled(s, d)
      val withSets = res
        .join(sh.select(col("doc_id").as("a"), col("shingles").as("sa")), "a")
        .join(sh.select(col("doc_id").as("b"), col("shingles").as("sb")), "b")
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
        .withColumn("exact_j",
          round(col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")), 4))
      val wrong = withSets
        .filter(abs(col("jaccard") - col("exact_j")) > 1e-9 || col("jaccard") < 0.7)
        .count()
      if (wrong > 0) Left(s"$wrong pairs with non-exact jaccard or < 0.7")
      else try {
        val missed = DedupOps.ngramJaccardPairs(s, d)
          .join(res.select(col("a"), col("b")), Seq("a", "b"), "left_anti")
          .count()
        if (missed > 0) Left(s"$missed exact 0.8-pairs missed by LSH banding")
        else Right("all reported jaccards exact; zero exact 0.8-pairs missed (strong)")
      } catch {
        case e: graft.ScaleGuardRefusal =>
          Right("all reported jaccards recomputed exact from shingle sets; " +
            "exact pair-index recall twin guard-refused at this corpus (" +
            Option(e.getMessage).getOrElse("").take(80) + ") — recall " +
            "verified at guard-admitted scales + planted fixtures " +
            "(strong, precision-only)")
      }
    }),

    "q_dedup_simhash" -> at("strong")((s, d) => {
      import graft.functions.SimHash64.simhash64
      val res = run(s, d, "q_dedup_simhash")
      val fp = U.documents(s, d).select(col("doc_id"), simhash64(U.words).as("sh"))
      val wrong = res
        .join(fp.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
        .join(fp.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
        .filter(
          bit_count(col("sha").bitwiseXOR(col("shb"))).cast("long") =!= col("hamming") ||
            col("hamming") > 3 || col("a") >= col("b"))
        .count()
      val n = res.count()
      if (wrong > 0) Left(s"$wrong/$n pairs with wrong hamming / >3 / a>=b")
      else Right(s"all $n pair hammings recomputed exact, <=3, a<b (strong)")
    }),

    "q_dedup_embed_lsh" -> at("strong")(
      (s, d) => pairsSubsetOfExact(s, d, "q_dedup_embed_lsh", ("a", "b"))),

    "q_sim_ann_lsh" -> at("strong")((s, d) => annGenuine(s, d, "q_sim_ann_lsh")),
    "q_sim_ann_ivf" -> at("strong")((s, d) => annGenuine(s, d, "q_sim_ann_ivf")),
    "q_sim_ann_ivfpq" -> at("strong")((s, d) => annGenuine(s, d, "q_sim_ann_ivfpq")),

    "q_embed_kmeans" -> { (s, d) =>
      // r11: the DedupSimSpec training replay runs HERE when the corpus
      // fits the driver-replay budget — every step of trainCodebook is
      // deterministic IEEE/integer arithmetic (left-to-right dots,
      // micro-int centroid means, (csim, cell) lexicographic tie-break),
      // so the driver simulation must match the distributed summary
      // bit-for-bit. Past the budget: structural invariants, depth recorded.
      val res = run(s, d, "q_embed_kmeans").collect()
      val nVecs = U.embeddings(s, d).filter(col("vec_id") >= 1).count()
      if (nVecs > ReplayBudgetRows) {
        val cells = res.map(_.getLong(0))
        val sumN = res.map(_.getLong(1)).sum
        val cosOk = res.forall(r => math.abs(r.getDouble(2)) <= 1.0)
        val v =
          if (cells.exists(c => c < 1 || c > 16)) Left("cell outside [1,16]")
          else if (sumN != nVecs) Left(s"assigned $sumN != $nVecs vectors")
          else if (!cosOk) Left("avg_cos outside [-1,1]")
          else Right(s"partition of all $nVecs vectors into valid cells, " +
            s"avg_cos in range (corpus $nVecs > replay budget " +
            s"$ReplayBudgetRows; training replay in DedupSimSpec)")
        ("invariant", v)
      } else {
        val k = 16; val iters = 3
        val vecs: Map[Long, Array[Double]] = U.embeddings(s, d)
          .filter(col("vec_id") >= 1)
          .select("vec_id", "embedding").collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
          .toMap
        def ddot(a: Array[Double], b: Array[Double]): Double = {
          var acc = 0.0; var i = 0
          while (i < a.length) { acc += a(i) * b(i); i += 1 }
          acc
        }
        def nrm(a: Array[Double]): Double = math.sqrt(ddot(a, a))
        def bestOf(cents: Map[Long, Array[Double]], v: Array[Double]): (Double, Long) =
          cents.map { case (c, cv) => (ddot(v, cv) / (nrm(v) * nrm(cv)), c) }.max
        var cents: Map[Long, Array[Double]] = (1L to k).map(c => c -> vecs(c)).toMap
        for (_ <- 1 to iters) {
          val assign = vecs.map { case (id, v) => id -> bestOf(cents, v) }
          cents = (1L to k).map { c =>
            val members = assign.collect { case (id, (_, cc)) if cc == c => vecs(id) }.toSeq
            c -> (if (members.isEmpty) cents(c)
                  else Array.tabulate(members.head.length) { i =>
                    members.iterator
                      .map(v => math.floor(v(i) * 1e6 + 0.5).toLong).sum
                      .toDouble / members.size / 1e6
                  })
          }.toMap
        }
        val finalAssign = vecs.map { case (id, v) => id -> bestOf(cents, v) }
        val bad = res.flatMap { r =>
          val c = r.getLong(0)
          val ms = finalAssign.collect {
            case (_, (cs, cc)) if cc == c => math.floor(cs * 1e6 + 0.5).toLong
          }
          if (r.getLong(1) != ms.size.toLong) Some(s"cell $c size mismatch")
          else if (ms.nonEmpty && math.abs(
            r.getDouble(2) - ms.sum.toDouble / ms.size / 1e6) > 1e-12)
            Some(s"cell $c avg_cos mismatch")
          else None
        }
        val sumN = res.map(_.getLong(1)).sum
        val v =
          if (sumN != vecs.size.toLong)
            Left(s"assigned $sumN != ${vecs.size} vectors")
          else if (bad.nonEmpty) Left(bad.take(3).mkString("; "))
          else Right(s"3-iteration spherical k-means replayed bit-exact " +
            s"driver-side over ${vecs.size} vectors; all ${res.length} cell " +
            "summaries match (strong)")
        ("strong", v)
      }
    },

    // q_graph_pagerank graduated to a full DuckDB oracle in r11 (the 10
    // fixed integer iterations unroll into chained SQL CTEs, DedupOps) —
    // its driver-side bit-replay twin remains in DedupSimSpec.

    "q_dedup_semantic" -> at("strong")((s, d) => {
      val res = run(s, d, "q_dedup_semantic")
      val pairs = res
        .select(col("dup_of").as("a"), col("vec_id").as("b"), col("cos_sim"))
      val order = res.filter(col("dup_of") >= col("vec_id")).count()
      if (order > 0) Left(s"$order rows violate keep-min-id (dup_of < vec_id)")
      else try {
        // every pruned (dup_of, vec_id) is a genuine exact pair, same cosine
        val exact = run(s, d, "q_dedup_embed_cosine")
        val wrong = pairs
          .join(exact.withColumnRenamed("cos_sim", "exact_cos"), Seq("a", "b"), "left")
          .filter(col("exact_cos").isNull ||
            abs(col("cos_sim") - col("exact_cos")) > 1e-9)
          .count()
        val n = res.count()
        if (wrong > 0) Left(s"$wrong/$n pruned pairs not genuine exact pairs")
        else Right(s"precision 1: all $n pruned pairs genuine, keep-min-id holds (strong)")
      } catch {
        case e: graft.ScaleGuardRefusal =>
          pairsPrecisionOnly(s, d, pairs, Option(e.getMessage).getOrElse(""))
      }
    }),

    // q_dedup_clusters graduated to a full DuckDB oracle in r11 (recursive
    // transitive-closure CTE, PipelineOps) — its ScalaTest union-find twin
    // remains in DedupSimSpec.

    "q_agg_heavyhitters" -> at("strong")((s, d) => {
      val res = run(s, d, "q_agg_heavyhitters")
      val exact = U.documents(s, d)
        .select(explode(split(trim(col("text")), "\\s+")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("f"))
      val n = exact.agg(sum(col("f"))).collect()(0).getLong(0)
      val err = n / 101 // k=100: MG error bound n/(k+1)
      val joined = res.join(exact, Seq("term"), "left")
      val badBound = joined
        .filter(col("f").isNull || col("est") > col("f") ||
          col("est") < col("f") - err).count()
      val missed = exact.filter(col("f") > err)
        .join(res, Seq("term"), "left_anti").count()
      if (badBound > 0) Left(s"$badBound terms outside [f - n/(k+1), f]")
      else if (missed > 0) Left(s"$missed guaranteed-frequent terms missing")
      else Right(s"MG guarantee holds vs exact counts (n=$n, bound=$err) (strong)")
    }),

    "q_agg_hll_mv" -> at("strong")((s, d) => {
      val res = run(s, d, "q_agg_hll_mv")
      // Two regimes, two contracts (the KLL lesson, §2.11, found by the
      // same sf0.1+ gate): a DataSketches HLL sketch is EXACT while it
      // still holds coupons (LIST/SET mode), so per-day partials
      // union-merge to literally the direct estimate. Once a group
      // promotes to dense HLL mode, the direct sketch reports the
      // stream-history HIP estimator while a union can only report the
      // composite estimator, and the two LEGITIMATELY differ by O(rse) —
      // measured: equal at 150 distinct/group (sf0.01), diverged at 1500
      // (sf0.1); the lgK=12 coupon capacity sits between, so 512 keeps
      // both measured regimes on their observed sides. The contract:
      // any group whose merged and direct estimates diverge must be past
      // the coupon regime, and EVERY estimate — merged and direct, both
      // regimes — must sit within 10% of the exact distinct recomputed
      // from raw events (lgK=12 rse is 1.625%: ~6 sigma of headroom).
      val exact = U.events(s, d).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_d"))
      val j = res.join(exact, "event_type")
      val couponNotEq = j.filter(
        col("merged_est") =!= col("direct_est") && col("exact_d") <= 512).count()
      val off = j.filter(
        abs(col("direct_est") - col("exact_d")) > col("exact_d") * 0.1 ||
          abs(col("merged_est") - col("exact_d")) > col("exact_d") * 0.1)
        .count()
      if (couponNotEq > 0)
        Left(s"$couponNotEq coupon-regime groups: merged != direct estimate")
      else if (off > 0) Left(s"$off groups: an estimate >10% off exact distinct")
      else Right(
        "coupon-regime merges exact; merged and direct within 10% of exact (strong)")
    }),

    "q_agg_kll_mv" -> at("strong")((s, d) => {
      val res = run(s, d, "q_agg_kll_mv")
      val k = U.KllK // the query's sketch parameter
      // Two regimes, two contracts. n <= k: the sketch is uncompacted, so
      // merged and direct are both the EXACT sorted value set — assert
      // bit-equality plus the exact order statistic. n > k (sf0.1's ~20k
      // rows/group and beyond): KLL compaction is RANDOMIZED, merged and
      // direct legitimately diverge, and the sketch's contract is its rank
      // error bound — assert every reported quantile sits inside the exact
      // rank bracket q ± 0.5%. k=16384's 99%-confidence normalized rank
      // error is ~0.04% (datasketches bound 2.296/k^0.9), so the bracket
      // has ~10x headroom yet is still ~25x tighter than the library's
      // default k=200 regime. Both regimes recompute against exact order
      // statistics of the raw events — strong depth either way.
      val compacted = res.filter(col("n") > k).count() > 0
      if (!compacted) {
        val notEq = res.filter(
          col("p50_merged") =!= col("p50_direct") ||
            col("p99_merged") =!= col("p99_direct")).count()
        val exact = U.events(s, d).groupBy(col("event_type"))
          .agg(
            expr("percentile(value, 0.45)").as("lo"),
            expr("percentile(value, 0.55)").as("hi"))
        val off = res.join(exact, "event_type")
          .filter(col("p50_merged") < col("lo") || col("p50_merged") > col("hi"))
          .count()
        if (notEq > 0) Left(s"$notEq groups: merged != direct quantiles")
        else if (off > 0) Left(s"$off groups: p50 outside exact rank bracket")
        else Right("uncompacted: merged == direct; p50 at exact rank (strong)")
      } else {
        val eps = 0.005
        val bad = U.events(s, d).groupBy(col("event_type"))
          .agg(
            expr(s"percentile(value, ${0.5 - eps})").as("p50lo"),
            expr(s"percentile(value, ${0.5 + eps})").as("p50hi"),
            expr(s"percentile(value, ${0.95 - eps})").as("p95lo"),
            expr(s"percentile(value, ${0.95 + eps})").as("p95hi"),
            expr(s"percentile(value, ${0.99 - eps})").as("p99lo"),
            expr(s"percentile(value, ${math.min(0.99 + eps, 1.0)})").as("p99hi"))
          .join(res, "event_type")
          .filter(
            col("p50_merged") < col("p50lo") || col("p50_merged") > col("p50hi") ||
              col("p95_merged") < col("p95lo") || col("p95_merged") > col("p95hi") ||
              col("p99_merged") < col("p99lo") || col("p99_merged") > col("p99hi") ||
              col("p50_direct") < col("p50lo") || col("p50_direct") > col("p50hi") ||
              col("p99_direct") < col("p99lo") || col("p99_direct") > col("p99hi"))
          .count()
        if (bad > 0) Left(s"$bad groups: quantile outside exact rank bracket ±$eps")
        else Right(s"compacted (n > $k): all quantiles inside exact rank bracket ±$eps (strong)")
      }
    }),

    // q_ts_holt / q_ts_holtwinters graduated to recursive-CTE DuckDB
    // oracles in r12 (TsOps.HoltOracleSql / HoltWintersOracleSql) — their
    // driver-side fold replays remain in TsOpsSpec.

    "q_sim_knn_graph" -> at("strong")((s, d) => {
      val res = run(s, d, "q_sim_knn_graph")
      val e = U.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      val wrong = res
        .join(e.select(col("vec_id").as("src"), col("embedding").as("es"),
          col("nrm").as("ns")), "src")
        .join(e.select(col("vec_id").as("dst"), col("embedding").as("ed"),
          col("nrm").as("nd")), "dst")
        .filter(abs(col("cos_sim") -
          round(dot(col("es"), col("ed")) / (col("ns") * col("nd")), 4)) > 1e-9)
        .count()
      // rank consistency: per src, rk is dense 1..k in (cos desc, dst) order
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("src"))
        .orderBy(col("cos_sim").desc, col("dst"))
      val badRank = res
        .withColumn("expect_rk", row_number().over(w).cast("long"))
        .filter(col("rk") =!= col("expect_rk") || col("rk") > 3)
        .count()
      val n = res.count()
      if (wrong > 0) Left(s"$wrong/$n edges with non-exact cosine")
      else if (badRank > 0) Left(s"$badRank edges with inconsistent rank")
      else Right(s"all $n edge cosines exact; ranks dense and ordered (strong)")
    }),

    "q_embed_pq" -> { (s, d) =>
      // r11: the DedupSimSpec PQ replay runs HERE within budget — every
      // step of trainPqCodebooks + withPqCodes is deterministic IEEE /
      // integer arithmetic (left-to-right dots, (svv - 2*svc) + cvv pinned
      // parenthesization, micro-int means, (d2, cell) lexicographic min),
      // so the driver simulation must reproduce every code bit-for-bit.
      val nVecs = U.embeddings(s, d).filter(col("vec_id") >= 1).count()
      if (nVecs > ReplayBudgetRows) {
        val res = run(s, d, "q_embed_pq")
        val codeCols = Seq("c0", "c1", "c2", "c3")
        val outOfRange = res.filter(
          codeCols.map(c => col(c) < 1 || col(c) > 16).reduce(_ || _)).count()
        val n = res.count()
        val v =
          if (n != nVecs) Left(s"$n code rows != $nVecs vectors")
          else if (outOfRange > 0) Left(s"$outOfRange rows with code outside [1,16]")
          else Right(s"one 4x4-bit code row per vector, all codes in range " +
            s"(corpus $nVecs > replay budget; bit replay in DedupSimSpec)")
        ("invariant", v)
      } else {
        val m = 4; val subDim = 16; val k = 16; val iters = 3
        val vecs: Map[Long, Array[Double]] = U.embeddings(s, d)
          .filter(col("vec_id") >= 1)
          .select("vec_id", "embedding").collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
          .toMap
        def ddot(a: Array[Double], b: Array[Double]): Double = {
          var acc = 0.0; var i = 0
          while (i < a.length) { acc += a(i) * b(i); i += 1 }
          acc
        }
        def sv(v: Array[Double], sub: Int): Array[Double] =
          v.slice(sub * subDim, sub * subDim + subDim)
        def best(books: Map[(Int, Long), (Array[Double], Double)],
                 sub: Int, x: Array[Double]): Long = {
          val svv = ddot(x, x)
          var bd = Double.MaxValue; var bc = -1L
          (1L to k).foreach { c =>
            val (cv, cvv) = books((sub, c))
            val d2 = (svv - 2.0 * ddot(x, cv)) + cvv
            if (d2 < bd || (d2 == bd && c < bc)) { bd = d2; bc = c }
          }
          bc
        }
        var books: Map[(Int, Long), (Array[Double], Double)] = (for {
          sub <- 0 until m; c <- 1L to k
        } yield {
          val cv = sv(vecs(c), sub)
          (sub, c) -> ((cv, ddot(cv, cv)))
        }).toMap
        for (_ <- 1 to iters) {
          val assign = for ((_, v) <- vecs.toSeq; sub <- 0 until m)
            yield (sub, best(books, sub, sv(v, sub)), sv(v, sub))
          books = (for { sub <- 0 until m; c <- 1L to k } yield {
            val members = assign.collect { case (sb, cc, x) if sb == sub && cc == c => x }
            val cv =
              if (members.isEmpty) books((sub, c))._1
              else Array.tabulate(subDim) { i =>
                members.iterator
                  .map(x => math.floor(x(i) * 1e6 + 0.5).toLong).sum
                  .toDouble / members.size / 1e6
              }
            (sub, c) -> ((cv, ddot(cv, cv)))
          }).toMap
        }
        val want = vecs.map { case (id, v) =>
          id -> (0 until m).map(sub => best(books, sub, sv(v, sub))).toList
        }
        val got = run(s, d, "q_embed_pq").collect()
          .map(r => r.getAs[Long]("vec_id") ->
            (0 until m).map(i => r.getAs[Long](s"c$i")).toList)
          .toMap
        val v =
          if (got == want) Right(s"PQ training + encoding replayed bit-exact " +
            s"driver-side: all ${got.size} 4-subspace codes match (strong)")
          else {
            val diff = (got.keySet ++ want.keySet)
              .count(k2 => got.get(k2) != want.get(k2))
            Left(s"$diff/${want.size} PQ code rows differ from the replay")
          }
        ("strong", v)
      }
    },

    // q_ts_downsample_lttb graduated to an unrolled-argmax DuckDB oracle
    // in r12 (TsOps.LttbOracleSql) — its IEEE replay remains in TsOpsSpec.
  )

  /** Per-doc (doc_id, FULL distinct-shingle count n, full shingle array)
    * recomputed INDEPENDENTLY in string space — the builders work in
    * xxhash64-digest space, so this recompute cannot inherit a digest-side
    * bug or collision. Full sets, not df-capped ones (r13; VERDICT r12):
    * the near-dup predicate is jaccard over FULL shingle sets at any
    * corpus size, and a cap-consistent checker was exactly how the r12
    * recall collapse stayed invisible. Map-side only.
    */
  private def fullStringSets(s: SparkSession, d: String): DataFrame =
    U.shingled(s, d).select(
      col("doc_id"),
      size(col("shingles")).cast("long").as("n"),
      col("shingles").as("sset"))

  /** Edge-genuineness gate for the pair-graph family: every (a, b[,
    * jaccard]) edge the graph keys consumed must have exact Jaccard >= 0.8
    * under the family's formula (FULL-set intersection, full counts,
    * round 4), recomputed in string space. Linear in the edge set — runs
    * at every scale, including corpora where the exact index is
    * guard-refused and the edges came from MinHash banding.
    * Returns Left(problem) or Right(edge count).
    *
    * Precision-only by construction — a missing edge is invisible here,
    * which is why every consumer also runs [[supersetWitness]] (recall).
    */
  private def genuineEdges(
      s: SparkSession, d: String, edges: DataFrame): Either[String, Long] = {
    val sets = fullStringSets(s, d)
    val checked = edges
      .join(sets.select(col("doc_id").as("a"), col("n").as("na"), col("sset").as("ca")), "a")
      .join(sets.select(col("doc_id").as("b"), col("n").as("nb"), col("sset").as("cb")), "b")
      .withColumn("inter",
        size(array_intersect(col("ca"), col("cb"))).cast("long"))
      .withColumn("exact_j",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
    val nE = edges.count()
    val nChecked = checked.count()
    val bad = checked.filter(col("exact_j") < 0.8 || col("a") >= col("b") ||
      (col("jaccard").isNotNull && abs(col("jaccard") - col("exact_j")) > 1e-9))
      .count()
    if (nChecked != nE)
      Left(s"${nE - nChecked}/$nE edges reference doc_ids with no shingles")
    else if (bad > 0) Left(s"$bad/$nE edges not genuine full-set jaccard>=0.8 pairs")
    else Right(nE)
  }

  /** Locate a contained subcorpus of `d` for the recall witness:
    * `spark.graft.recall.subcorpus` names it explicitly; otherwise derive
    * from the ScaleGen naming convention (…sf100 → …sf10 → …sf1 — replica
    * content is factor-independent, so each smaller factor's documents are
    * an identical-id, identical-text subset of the larger's). None at
    * driver scales, where the DuckDB oracle already pins the full pair
    * set and a witness would be redundant.
    */
  private[graft] val RecallSubcorpusConf = "spark.graft.recall.subcorpus"

  /** Left = a witness corpus was EXPECTED (conf set, or the corpus path
    * matches the sfN naming convention) but is absent/misconfigured —
    * fail loudly instead of letting a renamed directory silently
    * downgrade the verdict to precision-only (ADVICE r13). Right(None) =
    * genuinely no subcorpus convention applies (driver scales). */
  private def subcorpusDir(
      s: SparkSession, d: String): Either[String, Option[String]] = {
    val conf = s.conf.get(RecallSubcorpusConf, "")
    val cand =
      if (conf.nonEmpty) Some(conf)
      else if (d.contains("sf100")) Some(d.replace("sf100", "sf10"))
      else if (d.contains("sf10")) Some(d.replace("sf10", "sf1"))
      else None
    cand match {
      case None => Right(None)
      case Some(p) if p == d =>
        Left(s"recall witness misconfigured: subcorpus $p equals the " +
          s"corpus under test (a self-witness is vacuously 100%)")
      case Some(p) if !new java.io.File(s"$p/documents.parquet").exists() =>
        Left(s"recall witness corpus $p missing documents.parquet — " +
          s"refusing a vacuous precision-only pass at probe scale " +
          s"(restore the corpus or point $RecallSubcorpusConf elsewhere)")
      case Some(p) => Right(Some(p))
    }
  }

  /** Subcorpus-superset RECALL witness (r13; VERDICT r12 item 2): the
    * probe-scale pair set restricted to a contained subcorpus's doc ids
    * must cover >= 98% of the subcorpus's own pair set. Valid because the
    * contained documents are bit-identical at both scales and the pair
    * predicate is full-set jaccard/containment — corpus growth may only
    * cost banding recall (designed >= 98.5% at the 0.8 cut), never
    * redefine the predicate. This is the check that was structurally
    * impossible to fail under r12's precision-only verdicts: the df-capped
    * verify tail measured ~12% coverage here (judge repro, 40/328), while
    * every emitted edge still verified "genuine" under its own formula.
    */
  private def supersetWitness(
      s: SparkSession, d: String,
      pairsOf: (SparkSession, String) => DataFrame): Either[String, String] =
    subcorpusDir(s, d) match {
      case Left(err) => Left(err)
      case Right(None) =>
        Right("no contained subcorpus (driver scale — pair set oracle-pinned)")
      case Right(Some(sub)) =>
        val subIds = U.documents(s, sub).select(col("doc_id"))
        val subPairs = pairsOf(s, sub).select(col("a"), col("b"))
        val restricted = pairsOf(s, d).select(col("a"), col("b"))
          .join(subIds.toDF("a"), Seq("a"), "left_semi")
          .join(subIds.toDF("b"), Seq("b"), "left_semi")
        val nSub = subPairs.count()
        if (nSub == 0) Right(s"subcorpus $sub has no pairs (witness vacuous)")
        else {
          val covered =
            subPairs.join(restricted, Seq("a", "b"), "left_semi").count()
          val cov = covered.toDouble / nSub
          if (covered * 100 >= nSub * 98)
            Right(f"subcorpus-superset recall $covered/$nSub ($cov%.4f) vs $sub")
          else Left(f"subcorpus-superset recall $covered/$nSub ($cov%.4f) < 0.98 " +
            s"vs $sub: pairs present in the contained subcorpus are missing at scale")
        }
    }

  /** genuineEdges (precision) + supersetWitness (recall) in one verdict —
    * what every pair-graph-family scale check runs. */
  private def edgesVerified(s: SparkSession, d: String): Either[String, String] =
    genuineEdges(s, d, DedupOps.pairGraphEdges(s, d)).flatMap { nE =>
      supersetWitness(s, d, (ss, dd) => DedupOps.pairGraphEdges(ss, dd))
        .map(w => s"all $nE edge jaccards recomputed exact >= 0.8 on full sets; $w")
    }

  /** Driver-side edge collection for the graph replays, inside the same
    * budget discipline as the vector replays: the near-dup pair graph is
    * edge-sparse by construction (it IS the dedup signal), so the budget
    * admits every measured scale (sf10: ~2.5k edges).
    */
  private def collectEdges(
      s: SparkSession, d: String): Option[Array[(Long, Long)]] = {
    val e = DedupOps.pairGraphEdges(s, d).select(col("a"), col("b"))
    if (e.count() > ReplayBudgetRows) None
    else Some(e.collect().map(r => (r.getLong(0), r.getLong(1))))
  }

  /** Strong in-run verdicts for the ORACLE'd pair-graph family (r12;
    * VERDICT r11 item 1). These keys hash-match DuckDB wherever the exact
    * index is admitted (sf0.001–sf1); past the candidate gate the engine
    * now returns results from the MinHash edge path instead of refusing —
    * and the DuckDB oracle cannot follow it there (the oracle's CTE IS the
    * exact index). These checks are the gate for that regime: edge
    * genuineness recomputed independently at any scale, plus a driver-side
    * replay of each kernel on the same edges. NOT part of [[checks]] —
    * RegistrySpec pins that map to exactly the no-oracle keys; `RunOne
    * --check` and the sf10 gate read this map for the graph keys.
    */
  val scaleChecks: Map[String, Check] = Map(
    "q_dedup_clusters" -> at("strong")((s, d) => {
      edgesVerified(s, d).flatMap { ev =>
        collectEdges(s, d) match {
          case None => Left("edges exceed the driver replay budget")
          case Some(pairs) =>
            val parent = scala.collection.mutable.Map.empty[Long, Long]
            def find(x: Long): Long = {
              val p = parent.getOrElse(x, x)
              if (p == x) x else { val r = find(p); parent(x) = r; r }
            }
            pairs.foreach { case (a, b) =>
              val (ra, rb) = (find(a), find(b))
              if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
            }
            val want = pairs.flatMap(p => Seq(p._1, p._2)).distinct
              .map(x => x -> find(x)).toMap
            val got = run(s, d, "q_dedup_clusters").collect()
              .map(r => r.getLong(0) -> r.getLong(1)).toMap
            if (got == want)
              Right(s"$ev; " +
                s"components equal driver union-find over ${want.size} nodes (strong)")
            else Left(s"${(got.toSet diff want.toSet).size + (want.toSet diff got.toSet).size} " +
              "node labels differ from driver union-find")
        }
      }
    }),

    "q_graph_degrees" -> at("strong")((s, d) => {
      edgesVerified(s, d).flatMap { ev =>
        collectEdges(s, d) match {
          case None => Left("edges exceed the driver replay budget")
          case Some(pairs) =>
            val deg = pairs.flatMap(p => Seq(p._1, p._2))
              .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
            // the engine ranks over (degree desc, doc_id) — a TOTAL order
            // (doc_id is unique), so rank() degenerates to position
            val want = deg.toSeq.sortBy { case (id, dg) => (-dg, id) }
              .zipWithIndex
              .map { case ((id, dg), i) => id -> ((dg, (i + 1).toLong)) }
              .toMap
            val got = run(s, d, "q_graph_degrees").collect()
              .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
            if (got == want)
              Right(s"$ev; " +
                s"degrees + ranks equal driver recompute over ${want.size} nodes (strong)")
            else Left("degree/rank rows differ from driver recompute")
        }
      }
    }),

    "q_graph_triangles" -> at("strong")((s, d) => {
      edgesVerified(s, d).flatMap { ev =>
        collectEdges(s, d) match {
          case None => Left("edges exceed the driver replay budget")
          case Some(pairs) =>
            val es = pairs.toSet
            val fwd = pairs.groupBy(_._1)
              .map { case (k, v) => k -> v.map(_._2).toSet }
              .withDefaultValue(Set.empty[Long])
            val tri = pairs.iterator
              .map { case (a, b) => (fwd(a) intersect fwd(b)).size.toLong }.sum
            val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong
            val got = run(s, d, "q_graph_triangles").collect()(0)
            if (got.getLong(0) == nodes && got.getLong(1) == es.size.toLong &&
              got.getLong(2) == tri)
              Right(s"$ev; node/edge/" +
                s"triangle counts ($nodes/${es.size}/$tri) equal driver recompute (strong)")
            else Left(s"counts (${got.getLong(0)},${got.getLong(1)},${got.getLong(2)}) " +
              s"!= driver recompute ($nodes,${es.size},$tri)")
        }
      }
    }),

    "q_graph_pagerank" -> at("strong")((s, d) => {
      edgesVerified(s, d).flatMap { ev =>
        collectEdges(s, d) match {
          case None => Left("edges exceed the driver replay budget")
          case Some(pairs) =>
            val S = 1000000000L
            val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
            val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
            val nodes = deg.keys.toSeq.sorted
            val n = nodes.length.toLong
            var r = nodes.map(_ -> S / n).toMap
            val base = (15L * S) / (100L * n)
            for (_ <- 1 to 10) {
              val sc = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
              edges.foreach { case (src, dst) => sc(dst) += r(src) / deg(src) }
              r = nodes.map(x => x -> (base + (85L * sc(x)) / 100L)).toMap
            }
            val got = run(s, d, "q_graph_pagerank").collect()
              .map(x => x.getLong(0) -> x.getLong(1)).toMap
            if (got == r)
              Right(s"$ev; 10 integer " +
                s"iterations replayed bit-exact driver-side over $n nodes (strong)")
            else Left("integer PageRank diverged from the driver replay")
        }
      }
    }),

    // r13 (VERDICT r12 item 5): past the candidate-volume gate the KEY
    // itself serves the MinHash edge path, so it needs the same strong
    // verdict as the graph family — every returned pair's jaccard
    // recomputed on full string sets, plus the subcorpus recall witness.
    "q_dedup_ngram_jaccard" -> at("strong")((s, d) => {
      val pairs = run(s, d, "q_dedup_ngram_jaccard")
      genuineEdges(s, d, pairs).flatMap { nE =>
        supersetWitness(s, d, (ss, dd) => DedupOps.pairGraphEdges(ss, dd))
          .map(w => s"all $nE returned pairs' jaccards recomputed exact " +
            s">= 0.8 on full sets; $w (strong)")
      }
    }),

    // r13 (VERDICT r12 item 4): containment re-verified at scale after the
    // full-array verify fix — every returned pair's containment recomputed
    // on full string sets, plus the recall witness on the containment cut.
    "q_dedup_containment" -> at("strong")((s, d) => {
      val sets = fullStringSets(s, d)
      val got = run(s, d, "q_dedup_containment")
      val checked = got
        .join(sets.select(col("doc_id").as("a"), col("n").as("wna"), col("sset").as("ca")), "a")
        .join(sets.select(col("doc_id").as("b"), col("n").as("wnb"), col("sset").as("cb")), "b")
        .withColumn("winter",
          size(array_intersect(col("ca"), col("cb"))).cast("long"))
      val nP = got.count()
      val nChecked = checked.count()
      val bad = checked.filter(
        col("winter") =!= col("inter") || col("wna") =!= col("na") ||
          col("wnb") =!= col("nb") ||
          col("inter") * 10 < least(col("na"), col("nb")) * 9 ||
          col("cont_ppm") =!= expr("inter * 1000000 div least(na, nb)"))
        .count()
      if (nChecked != nP)
        Left(s"${nP - nChecked}/$nP pairs reference doc_ids with no shingles")
      else if (bad > 0)
        Left(s"$bad/$nP pairs fail the full-set containment recompute")
      else {
        val contPairs = (ss: SparkSession, dd: String) =>
          run(ss, dd, "q_dedup_containment")
        // name the candidate regime (r14): whether the asymmetric
        // small-side prefix probe was admitted, or recall rode symmetric
        // banding only — the honest scope of the witness below
        val limit = s.conf.get(DedupOps.JaccardMaxCandConf,
          DedupOps.JaccardMaxCandDefault.toString).toLong
        val cv = DedupOps.containmentProbeVolume(s, d)
        val regime =
          if (cv <= limit) s"asymmetric prefix probe active (volume $cv <= budget $limit)"
          else s"asymmetric prefix probe REFUSED (volume $cv > budget $limit) — containment recall banding-only"
        supersetWitness(s, d, contPairs).map(w =>
          s"all $nP containment pairs recomputed exact on full string sets " +
            s"(inter/na/nb/cont_ppm bit-equal, cut holds); $regime; $w (strong)")
      }
    }),

    // r14 (VERDICT r13 item 2): the one capped pair operator that had no
    // recall witness — the window-df cap is part of this key's PREDICATE
    // (mirrored in the oracle), but past driver scales nothing measured
    // whether cap-vs-df co-scaling keeps the pair set stable as the
    // corpus grows. Precision: every returned pair's n_shared recomputed
    // in raw window-STRING space (no digests, a different aggregation
    // shape), with the global census as the one full-corpus pass.
    // Recall: the subcorpus-superset witness on the pair set.
    "q_dedup_substring" -> at("strong")((s, d) => {
      val W = 20
      val got = run(s, d, "q_dedup_substring").localCheckpoint()
      val nP = got.count()
      val winsAll = U.documents(s, d)
        .select(col("doc_id"), U.words.as("w"))
        .filter(size(col("w")) >= W)
        .select(
          col("doc_id"),
          explode(sequence(lit(1), size(col("w")) - (W - 1))).as("i"),
          col("w"))
        .select(
          col("doc_id"),
          array_join(slice(col("w"), col("i"), lit(W)), " ").as("win"))
        .distinct()
        .localCheckpoint()
      val cap = DedupOps.windowDfCap(DedupOps.docCount(s, d))
      val dfT = winsAll.groupBy(col("win")).agg(count(lit(1)).as("wdf"))
      val checkedDocs = got.select(col("a").as("doc_id"))
        .union(got.select(col("b").as("doc_id"))).distinct()
      // only the returned pairs' docs carry window strings into the
      // recount joins — the full corpus contributes the census alone
      val w = winsAll
        .join(checkedDocs, Seq("doc_id"), "left_semi")
        .join(dfT.filter(col("wdf") <= cap), Seq("win"), "left_semi")
      val recount = got.select(col("a"), col("b"))
        .join(w.select(col("doc_id").as("a"), col("win")), Seq("a"))
        .join(w.select(col("doc_id").as("b"), col("win")), Seq("b", "win"))
        .groupBy(col("a"), col("b"))
        .agg(countDistinct(col("win")).as("n2"))
      val bad = got.join(recount, Seq("a", "b"), "left")
        .filter(col("n2").isNull || col("n2") =!= col("n_shared"))
        .count()
      if (bad > 0)
        Left(s"$bad/$nP pairs fail the raw-window-string n_shared recompute")
      else
        supersetWitness(s, d, (ss, dd) => run(ss, dd, "q_dedup_substring"))
          .map(wit => s"all $nP pairs' n_shared recomputed in raw " +
            s"window-string space (df cap $cap mirrored); $wit (strong)")
    })
  )

  /** Run every selected check; returns key -> (depth-that-ran, Either). */
  def runAll(s: SparkSession, d: String,
      selected: String => Boolean = _ => true)
      : Seq[(String, String, Either[String, String])] =
    checks.toSeq.sortBy(_._1).filter(kv => selected(kv._1)).map { case (k, f) =>
      val (depth, r) =
        try f(s, d)
        catch { case e: Exception =>
          ("error", Left(s"check crashed: ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" | ")))
        }
      (k, depth, r)
    }
}
