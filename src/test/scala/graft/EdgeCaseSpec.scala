package graft

import graft.functions.{Shingles, SimHash64, VecDot}
import org.apache.spark.sql.functions._

/** Edge semantics the oracle data never exercises: null join keys, empty
  * inputs, unicode/degenerate tokens through the custom expressions.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  test("equi join drops null keys on both sides (SQL semantics, not NULL==NULL)") {
    val l = Seq((Some(1L), "a"), (None: Option[Long], "b")).toDF("k", "lv")
    val r = Seq((Some(1L), "x"), (None: Option[Long], "y")).toDF("k", "rv")
    val out = l.join(r, Seq("k")).collect()
    assert(out.length === 1 && out.head.getAs[Long]("k") === 1L)
  }

  test("left join keeps null-key left rows with null right side") {
    val l = Seq((Some(1L), "a"), (None: Option[Long], "b")).toDF("k", "lv")
    val r = Seq((Some(1L), "x")).toDF("k", "rv")
    val out = l.join(r, Seq("k"), "left").orderBy("lv").collect()
    assert(out.length === 2)
    assert(out(1).isNullAt(out(1).fieldIndex("rv")))
  }

  test("aggregation over an empty frame yields zero rows grouped, one row global") {
    val empty = Seq.empty[(Long, Double)].toDF("k", "v")
    assert(empty.groupBy("k").agg(sum("v")).count() === 0)
    val global = empty.agg(count(lit(1)).as("n"), sum("v").as("s")).head()
    assert(global.getLong(0) === 0 && global.isNullAt(1))
  }

  test("window functions over an empty frame return empty, not error") {
    import org.apache.spark.sql.expressions.Window
    val empty = Seq.empty[(Long, Double)].toDF("k", "v")
    val w = Window.partitionBy("k").orderBy("v")
    assert(empty.withColumn("rn", row_number().over(w)).count() === 0)
  }

  test("get_json_object: missing key and malformed JSON both yield null") {
    val df = Seq("""{"k": 1}""", """not json""", """{"other": 2}""").toDF("props")
    val out = df.select(get_json_object($"props", "$.k").as("k")).collect()
    assert(Option(out(0).getString(0)) === Some("1"))
    assert(out(1).isNullAt(0))
    assert(out(2).isNullAt(0))
  }

  test("Shingles handles unicode, empty-string, and repeated tokens exactly like concat_ws") {
    val tricky = Seq(
      List("héllo", "wörld", "héllo", "wörld", "héllo"),
      List("", "a", "", "a", ""),
      List("日本語", "の", "トークン", "化", "テスト"),
      List("a\tb", "c d", "e", "f", "g"))
    tricky.foreach { w =>
      val df = Seq(Tuple1(w)).toDF("w")
      val got = df.select(Shingles.shingles(col("w"), 3)).head().getSeq[String](0)
      val want = df.select(
        array_distinct(transform(
          sequence(lit(1), size(col("w")) - 2),
          i => concat_ws(" ",
            element_at(col("w"), i),
            element_at(col("w"), i + 1),
            element_at(col("w"), i + 2))))).head().getSeq[String](0)
      assert(got === want, s"tokens $w")
    }
  }

  test("SimHash64 on an empty token array is deterministic (all-negative votes)") {
    val df = Seq(Tuple1(List.empty[String])).toDF("w")
    val h = df.select(SimHash64.simhash64(col("w"))).head().getLong(0)
    assert(h === 0L, "zero tokens -> every bit votes negative -> 0")
  }

  test("VecDot with extreme values stays IEEE-faithful (inf propagates)") {
    val big = Float.MaxValue
    val df = Seq((List(big, big), List(big, big))).toDF("a", "b")
    val dot = df.select(VecDot.vecDot(col("a"), col("b"))).head().getDouble(0)
    // float max squared overflows float but fits double: ~1.157e77, finite
    assert(!dot.isInfinite && dot > 1e76)
  }

  test("connectedComponents: empty edge list yields empty result, not NPE") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(graft.ops.PipelineOps.connectedComponents(empty).count() === 0)
  }

  test("connectedComponents: chain + triangle + isolate-pair resolve to min-id labels") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("a", "b")
    val got = graft.ops.PipelineOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L)
    assert(got === want)
  }

  test("connectedComponents: 19 hops converge, 20 fail naming the bound") {
    import spark.implicits._
    // path graph 1-2-...-n: the min id is n - 1 hops from the far end, and
    // propagation needs one round per hop plus one that sees no change
    def path(n: Long) = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val got = graft.ops.PipelineOps.connectedComponents(path(20))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1L to 20L).map(_ -> 1L).toMap)
    val e = intercept[IllegalStateException] {
      graft.ops.PipelineOps.connectedComponents(path(21)).collect()
    }
    assert(e.getMessage.contains("20 hops"), e.getMessage)
    assert(e.getMessage.contains("q_dedup_clusters"), e.getMessage)
  }

  test("connectedComponents equals driver-side union-find on random graphs") {
    import spark.implicits._
    // deterministic LCG so the test is reproducible (no Random seed drift)
    var s = 0xDEADBEEFL
    def nextInt(bound: Int): Int = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % bound + bound) % bound).toInt
    }
    for (_ <- 1 to 3) {
      val n = 30 + nextInt(40)
      val nEdges = 20 + nextInt(60)
      val edges = (1 to nEdges).map { _ =>
        (nextInt(n).toLong, nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      // driver union-find
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val roots = nodes.map(x => x -> find(x)).toMap
      // normalize: component members -> min member id
      val want = roots.map { case (x, r) =>
        x -> nodes.filter(y => find(y) == r).min
      }
      // these fixtures' min-id eccentricities are 7, 7 and 5: inside the
      // 20-hop bound
      val got = graft.ops.PipelineOps
        .connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want)
    }
  }

  test("set ops on disjoint inputs: intersect empty, except is identity") {
    val a = Seq(1L, 2L).toDF("k")
    val b = Seq(3L, 4L).toDF("k")
    assert(a.intersect(b).count() === 0)
    assert(a.except(b).orderBy("k").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("self-loop-only nodes survive connectedComponents as their own root") {
    def labels(pairs: org.apache.spark.sql.DataFrame) =
      graft.ops.PipelineOps.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(Seq((5L, 5L), (1L, 2L)).toDF("a", "b")) ===
      Map(1L -> 1L, 2L -> 1L, 5L -> 5L))
    // degenerate: ONLY self-loops — every node labels itself
    assert(labels(Seq((7L, 7L), (9L, 9L)).toDF("a", "b")) === Map(7L -> 7L, 9L -> 9L))
  }

  test("chunking invariants: full token coverage, 16-token overlap, tails never empty") {
    val chunks = SparkEntry.queries("q_text_chunk")(spark, sfDir).collect()
    val docTokens = U.documents(spark, sfDir)
      .select(col("doc_id"), size(U.words).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byDoc = chunks.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet === docTokens.filter(_._2 >= 1).keySet)
    byDoc.foreach { case (doc, cs) =>
      val n = docTokens(doc)
      val sorted = cs.sortBy(_.getAs[Long]("chunk_id"))
      // chunk_ids are dense 0..k-1
      assert(sorted.map(_.getAs[Long]("chunk_id")).toSeq ===
        (0L until sorted.length).toSeq)
      // coverage: last chunk must reach the final token; none may overrun
      val last = sorted.last
      assert(last.getAs[Long]("start_tok") + last.getAs[Long]("n_tokens") === n.toLong,
        s"doc $doc: chunks end before token $n")
      // overlap: consecutive starts differ by the 48-token stride, so a
      // 64-token window overlaps its successor by exactly 16 tokens
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("start_tok") - a.getAs[Long]("start_tok") === 48L)
        case _ =>
      }
      // no chunk is empty, none exceeds the window
      assert(cs.forall(c => {
        val t = c.getAs[Long]("n_tokens"); t >= 1 && t <= 64
      }))
    }
  }

  test("streak invariants: active_days equals distinct days, runs reconstruct from raw rows") {
    val got = SparkEntry.queries("q_win_streak")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("longest_streak"), r.getAs[Long]("active_days"),
          r.getAs[Long]("n_streaks"))))
      .toMap
    val days = U.events(spark, sfDir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).cast("long").as("dn"))
      .distinct().collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).sorted.toSeq).toMap
    assert(got.keySet === days.keySet)
    days.foreach { case (uid, dns) =>
      // driver-side gaps-and-islands twin
      val runs = scala.collection.mutable.ListBuffer.empty[Long]
      var prev = Long.MinValue
      dns.foreach { d =>
        if (runs.nonEmpty && d == prev + 1) runs(runs.length - 1) += 1
        else runs += 1L
        prev = d
      }
      val (longest, active, n) = got(uid)
      assert(active === dns.length.toLong)
      assert(longest === runs.max)
      assert(n === runs.length.toLong)
      assert(longest <= active && n <= active)
    }
  }

  test("CM sketch MV: every probe witnesses est >= exact; collisions only inflate") {
    val rows = SparkEntry.queries("q_agg_cm_mv")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getAs[Long]("cm_est")
      val exact = r.getAs[Long]("n_exact")
      // the one-sided Count-Min guarantee: min over the d hashed cells can
      // only OVER-count (colliding keys add, never subtract)
      assert(est >= exact,
        s"user ${r.getAs[Long]("user_id")}: est $est < exact $exact")
    }
    // the sketch is 4x512 cells over ~150 users at sf0.001 — collisions are
    // rare enough that the min over 4 independent rows is usually tight;
    // require it exact for a majority so a broken hash (everything in one
    // cell still satisfies >=) cannot pass silently
    val tight = rows.count(r => r.getAs[Long]("cm_est") === r.getAs[Long]("n_exact"))
    assert(tight * 2 >= rows.length, s"only $tight/${rows.length} probes exact")
  }

  test("perplexity terciles: per-language ntile bucket sizes differ by <= 1 and head dominates tail") {
    val rows = SparkEntry.queries("q_text_perplexity")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val byBucket = rs.groupBy(_.getAs[String]("ppl_bucket"))
        .view.mapValues(_.map(_.getAs[Long]("mean_pmicro"))).toMap
      assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")))
      // ntile(3) size balance
      val sizes = Seq("head", "middle", "tail").map(b => byBucket.get(b).map(_.length).getOrElse(0))
      assert(sizes.max - sizes.min <= 1, s"$lang bucket sizes $sizes")
      // score ordering across buckets (ties can straddle a boundary, so
      // compare head's min against tail's max only when both exist)
      for (h <- byBucket.get("head"); t <- byBucket.get("tail"))
        assert(h.min >= t.max, s"$lang: head min ${h.min} < tail max ${t.max}")
      for (h <- byBucket.get("head"); m <- byBucket.get("middle"))
        assert(h.min >= m.max, s"$lang: head/middle order violated")
      for (m <- byBucket.get("middle"); t <- byBucket.get("tail"))
        assert(m.min >= t.max, s"$lang: middle/tail order violated")
    }
  }

  test("perplexity degenerate shapes: sub-2-token docs drop; 1-doc language is all head; 2-doc language has no tail") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ppl_edge").toString
    Seq(
      // lang "one": a single scoreable doc -> ntile(3) over 1 row -> head
      (0L, "one", "src", "alpha beta alpha beta"),
      // lang "two": two scoreable docs -> buckets head+middle, never tail
      (1L, "two", "src", "x y x y x y"),
      (2L, "two", "src", "x z q r s t"),
      // unscoreable: one token / empty text (split of "" is [""], size 1)
      (3L, "one", "src", "solo"),
      (4L, "two", "src", ""))
      .toDF("doc_id", "lang", "source", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_text_perplexity")(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet === Set(0L, 1L, 2L),
      "docs with fewer than 2 tokens cannot be scored and must drop")
    val buckets = rows
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("ppl_bucket")).toMap
    assert(buckets(0L) === "head", "a 1-doc language's only doc is its head")
    // doc 1 repeats the corpus's dominant bigrams; doc 2 is mostly novel
    assert(buckets(1L) === "head" && buckets(2L) === "middle",
      s"2-doc language must fill head+middle only, got $buckets")
  }

  test("perplexity terciles: tie groups straddling a boundary split exactly as ntile does") {
    // r14 pin for the histogram-rank tercile plan (VERDICT r13 item 6):
    // the bounded-domain reconstruction must reproduce ntile's total
    // order (score desc, doc_id asc) BIT-EXACTLY, including how a tied
    // score group straddling a tercile boundary splits by doc_id. Seven
    // identical docs (one tied group) + two distinct docs in one
    // language: n = 9, bucket size 3, so the tied group necessarily
    // straddles at least one boundary wherever its score lands.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ppl_tie").toString
    val docs = (0 until 7).map(i => (i.toLong, "t", "src", "a b a b c d")) ++
      Seq((7L, "t", "src", "a b a b a b"), (8L, "t", "src", "zz qq rr ss"))
    docs.toDF("doc_id", "lang", "source", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_text_perplexity")(spark, dir).collect()
    assert(rows.length === 9)
    val tied = rows.groupBy(_.getAs[Long]("mean_pmicro")).values.map(_.length).max
    assert(tied >= 7, "fixture must produce a 7-doc tied score group")
    // driver-side ntile replay: sort by (score desc, doc_id asc), slice
    // by ntile(3) bucket sizes (first n%3 buckets carry the extra row)
    val ordered = rows.sortBy(r =>
      (-r.getAs[Long]("mean_pmicro"), r.getAs[Long]("doc_id")))
    val n = ordered.length
    val (base, rem) = (n / 3, n % 3)
    val s1 = base + (if (rem >= 1) 1 else 0)
    val s2 = base + (if (rem >= 2) 1 else 0)
    val want = ordered.zipWithIndex.map { case (r, i) =>
      r.getAs[Long]("doc_id") ->
        (if (i < s1) "head" else if (i < s1 + s2) "middle" else "tail")
    }.toMap
    val got = rows
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("ppl_bucket")).toMap
    assert(got === want, "tie split diverged from ntile's doc_id order")
  }

  test("driftTvd degenerate shapes: one-sided type maxes out; empty frame is empty; single row is one-sided") {
    import spark.implicits._
    // type A exists ONLY in the first half: its second-half histogram is
    // all-zero ppm, so TVD = sum(p_a)/2 — a full-scale 'the type vanished'
    // drift signal (the semantics a crawl monitor wants: disappearance IS
    // maximal distribution shift). B is stationary.
    val rows =
      (0L until 40L).map(i => ("A", i, 100.0)) ++
        (0L until 40L).map(i => ("B", i, 100.0)) ++
        (960L until 1000L).map(i => ("B", i, 100.0))
    val out = ops.CoreOps.driftTvd(rows.toDF("event_type", "us", "value"))
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out("A").getAs[Long]("n_b") === 0L)
    assert(out("A").getAs[Long]("tvd_ppm") === 500000L, "vanished type = half the L1 mass")
    assert(out("A").getAs[Boolean]("drifted"))
    assert(out("B").getAs[Long]("tvd_ppm") === 0L && !out("B").getAs[Boolean]("drifted"))
    // empty input -> empty output, not an error
    assert(ops.CoreOps.driftTvd(
      Seq.empty[(String, Long, Double)].toDF("event_type", "us", "value")).count() === 0L)
    // a single row: midpoint puts it in exactly one half; tvd is one-sided
    val one = ops.CoreOps.driftTvd(Seq(("X", 5L, 10.0)).toDF("event_type", "us", "value"))
      .collect()
    assert(one.length === 1)
    assert(one.head.getAs[Long]("n_a") + one.head.getAs[Long]("n_b") === 1L)
    assert(one.head.getAs[Long]("tvd_ppm") === 500000L)
  }

  test("driftTvd pins NaN values to bucket 0 instead of an engine-dependent cast") {
    import spark.implicits._
    // r12 (ADVICE): Spark's floor(NaN).cast(long) silently yields 0 while
    // DuckDB errors on the NaN->BIGINT cast — both sides now pin NaN to
    // bucket 0 explicitly, so a NaN-carrying corpus (the shape
    // q_quality_expectations r7 counts) keeps the oracle runnable. NaN in
    // the first half lands in the same bucket as a 0.0 value: identical
    // histograms, zero drift.
    val rows =
      (0L until 10L).map(i => ("N", i, Double.NaN)) ++
        (960L until 970L).map(i => ("N", i, 0.0))
    val out = ops.CoreOps.driftTvd(rows.toDF("event_type", "us", "value")).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("tvd_ppm") === 0L)
    assert(!out.head.getAs[Boolean]("drifted"))
  }

  test("zorderStats degenerate shapes: empty frame, constant column, single row") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // empty input -> empty stats table
    assert(ops.LayoutOps.zorderStats(
      Seq.empty[(Long, Long)].toDF("a", "b"), col("a"), col("b")).count() === 0L)
    // constant x: greatest(1, 0) guard keeps the quantizer defined; all
    // rows land in x-quant 0, layouts still partition on y
    val const = ops.LayoutOps.zorderStats(
      (0L until 100L).map(i => (7L, i)).toDF("a", "b"), col("a"), col("b"))
      .collect()
    assert(const.map(_.getAs[Long]("n_rows")).sum === 200L) // 100 rows x 2 layouts
    assert(const.forall(r => r.getAs[Long]("min_x") === 0L && r.getAs[Long]("max_x") === 0L))
    // single row: one bucket per layout, min == max on both dims
    val single = ops.LayoutOps.zorderStats(
      Seq((3L, 4L)).toDF("a", "b"), col("a"), col("b")).collect()
    assert(single.length === 2)
    assert(single.forall(r => r.getAs[Long]("n_rows") === 1L &&
      r.getAs[Long]("min_x") === r.getAs[Long]("max_x")))
  }
}
