package graft.ops

import graft.{Q, U}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.4 group H — time-series analytics generalizing the
  * reference's periodic fault scan (R5/R6, `rusty_timeseries/src/main.rs:
  * 234-240,384-406`): tumbling buckets, OHLC downsampling, gap-fill with
  * forward fill, and batch sessionization.
  *
  * Buckets are epoch-second floors (BIGINT) rather than `window()` structs so
  * the DuckDB oracle can express them verbatim. Scale notes: bucketing is a
  * single partial-aggregated shuffle on (series, bucket); gap-fill generates
  * the dense spine with `sequence`/`explode` per series — the spine is tiny
  * relative to the data (one row per series-hour) and never shuffles the raw
  * events twice; sessionization is one window shuffle by series key.
  */
object TsOps {

  /** The EWMA weight of `q_ts_ewma` and [[graft.streaming.Streams.ewma]]:
    * 0.25, an exact power of two, so every fold step is a clean IEEE op. */
  private val EwmaAlpha = 0.25

  /** One EWMA fold step, e_i = alpha*v_i + (1-alpha)*e_{i-1}: the same
    * IEEE expression tree in the batch kernel and the streaming one. */
  private[graft] def ewmaStep(e: Double, v: Double): Double =
    EwmaAlpha * v + (1 - EwmaAlpha) * e

  /** The data-mix drift of `q_ts_drift` and
    * [[graft.streaming.Streams.mvMixDrift]] over daily counts: `daily`
    * holds (`key`, `day` as BIGINT epoch days, `n`). Per key, the rows of
    * the older and newer half of the observed day range (split at the
    * midpoint day), exact ppm shares, and the total-variation numerator
    * over the shared denominator 2·t_old·t_new. All integer arithmetic,
    * so bit-stable at any parallelism. The split day and the totals are
    * 1-row broadcasts.
    */
  private[graft] def mixDrift(daily: DataFrame, key: String): DataFrame = {
    // midpoint day splits the range; trunc-div == floor-div on the
    // positive epoch days (documented divergence for signed inputs)
    val b = daily.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val t = daily.crossJoin(broadcast(b))
      .groupBy(col(key))
      .agg(
        sum(when(col("day") < col("mid"), col("n")).otherwise(0L)).as("n_old"),
        sum(when(col("day") >= col("mid"), col("n")).otherwise(0L)).as("n_new"))
    val tot = t.agg(sum(col("n_old")).as("t_old"), sum(col("n_new")).as("t_new"))
    t.crossJoin(broadcast(tot))
      .select(
        col(key),
        col("n_old"),
        col("n_new"),
        when(col("t_old") > 0, expr("n_old * 1000000 div t_old")).as("ppm_old"),
        when(col("t_new") > 0, expr("n_new * 1000000 div t_new")).as("ppm_new"),
        abs(col("n_old") * col("t_new") - col("n_new") * col("t_old")).as("drift_num"),
        (lit(2L) * col("t_old") * col("t_new")).as("drift_den"))
      .orderBy(key)
  }

  /** Secondary-sort per-series fold — the shared kernel of `q_ts_ewma` and
    * `q_ts_holt`, and the template for ANY sequential per-series
    * recurrence: repartition by the series key, sortWithinPartitions
    * (series, ts, event_id) — SortExec's UnsafeExternalSorter spills to
    * disk, unlike a mapGroups toSeq which pins the whole group on-heap —
    * then one streaming pass folding each run of equal keys with O(1)
    * state. ONE shuffle by series key; a year-long hot series costs disk,
    * not an executor OOM.
    *
    * `seed` builds state from a run's first value; `step` folds each
    * subsequent value; `finish(uid, n, state)` shapes the output row.
    */
  private def foldSeries[S, R](s: SparkSession, d: String)(
      seed: Double => S,
      step: (S, Double) => S,
      finish: (Long, Long, S) => R)(
      implicit enc: org.apache.spark.sql.Encoder[R])
      : org.apache.spark.sql.Dataset[R] = {
    import s.implicits._
    U.events(s, d)
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id"),
        col("value"))
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "ts_us", "event_id")
      .as[(Long, Long, Long, Double)]
      .mapPartitions { it =>
        // rows arrive grouped by user_id and (ts, event_id)-ordered; fold
        // each run of equal keys without materializing it
        new Iterator[R] {
          private var pending: (Long, Long, Long, Double) =
            if (it.hasNext) it.next() else null
          def hasNext: Boolean = pending != null
          def next(): R = {
            val uid = pending._1
            var st = seed(pending._4)
            var n = 1L
            pending = null
            while (pending == null && it.hasNext) {
              val r = it.next()
              if (r._1 == uid) { st = step(st, r._4); n += 1 }
              else pending = r
            }
            finish(uid, n, st)
          }
        }
      }
  }

  private def wUser = Window.partitionBy(col("user_id"))
  private def wOrdered = wUser.orderBy(col("ts"), col("event_id"))

  /** Pairwise window for the contract q_ts_theilsen: each point pairs with
    * its TheilSenCap nearest successors in (ts, event_id) order. 32 spans
    * several hours at the testdata's event cadence — wide enough for a
    * stable robust slope, narrow enough that per-series cost is O(n·32) at
    * any series length.
    */
  val TheilSenCap = 32

  /** Per-series median of a (user_id, sm) slope frame by EXPLICIT rank
    * selection, shared by the windowed contract query and the all-pairs
    * twin. Not percentile()/median(): (a) the engines' builtins
    * interpolate even counts differently (Spark lo + (hi−lo)·0.5 vs
    * DuckDB (a+b)/2 — bit-equal only while |sm| < 2^52, and a sub-second
    * dt can push the micro-slope past that); (b) Spark's exact percentile
    * buffers EVERY slope of a series in one on-heap aggregation buffer —
    * a hot series OOMs the executor at scale, where this window's sort
    * spills. Both engines now compute literally
    * CAST(lo + hi AS DOUBLE) / 2 on the same two rank-selected BIGINTs:
    * identical IEEE ops, identical bits, at every slope magnitude.
    */
  private def slopeMedian(slopes: DataFrame): DataFrame =
    slopes
      .select(
        col("user_id"),
        col("sm"),
        row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("sm"))).as("rn"),
        count(lit(1)).over(Window.partitionBy(col("user_id"))).as("m"))
      .filter(col("rn") === expr("(m + 1) div 2") || col("rn") === expr("(m + 2) div 2"))
      .groupBy(col("user_id"))
      .agg(
        max(col("m")).as("n_pairs"),
        (sum(col("sm")).cast("double") / count(lit(1))).as("slope_med_micro"))
      .orderBy("user_id")

  /** Windowed Theil-Sen (Sen's estimator over the `cap` nearest
    * successors), join-free: one series-key window exchange computes
    * lead(ts), lead(value) for k = 1..cap in a single window operator, the
    * per-pair slope explode is map-side, and the median aggregation reuses
    * the same hash partitioning. With cap >= max series length this IS the
    * exact all-pairs estimator ([[theilsenExact]]; TsOpsSpec pins the
    * equality).
    *
    * r18 measured-and-left-alone: moving the slope arithmetic inside the
    * lead array (exploding `cap` slope structs instead of (ts2, v2) pairs)
    * was A/B'd at sf0.1 and did NOT help — the hash-consumer wall is the
    * 64-frame window pass plus the 32n-row median sort, not the explode
    * width (2.31 → 2.47 s hash), while the count consumer REGRESSED 0.9 s
    * because it could no longer prune the slope projection. Kept in the
    * original form.
    */
  def theilsen(s: SparkSession, d: String, cap: Int): DataFrame = {
    import s.implicits._
    val dd = U.events(s, d)
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id"),
        col("value"))
    // Pair generation as ONE streaming ring-buffer pass (r19). The r1-r18
    // form was 32 lead(ts)/lead(v) pairs in one Window (32 offset frames,
    // 64 window expressions), an array() re-assembly and an explode —
    // WindowExec materializes each series into a row buffer and walks 32
    // frame pointers per row. Two declarative alternatives were A/B'd
    // first and LOST: r18's slope-structs-inside-the-lead-array (+0.16 s
    // hash, count arm +0.9 s from lost pruning) and r19's
    // lead(struct(ts,v), k) (2.9→4.0 s count, 2.5→3.3 s hash — the struct
    // is allocated per (row, frame) inside the window machinery). This
    // pass replaces the whole Window+explode segment with the foldSeries
    // secondary-sort discipline: same one exchange by series key, same
    // spillable sortWithinPartitions, then each row pairs against a
    // cap-slot ring of its predecessors in a tight JVM loop — O(cap) per
    // row, no frame objects, no per-row array.
    //
    // Bit-exactness: the emitted slope is literally the same IEEE op
    // sequence as the old expression tree — (v2 − v1) * 3.6e9 /
    // (ts2 − ts1).toDouble * 1e6 + 0.5, floor, toLong (Spark FLOOR(double)
    // and java d2l agree with math.floor/.toLong) — over exactly the same
    // pairs: row i pairs with successors i+1..i+cap of its series in
    // (ts, event_id) order, kept only when ts is STRICTLY increasing
    // (equal-timestamp and null-timestamp pairs drop, as the old
    // `ts_us < p.ts2` null/false semantics did); a null value propagates a
    // null slope WITHOUT dropping the pair, exactly like the old
    // arithmetic (boxed fields carry that case; the fixtures have no
    // nulls, and the DuckDB oracle pins the windowed SQL either way).
    // Pair emission order differs (keyed by the successor, not the
    // anchor), which [[slopeMedian]]'s rank sort erases.
    val slopes = dd
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "ts_us", "event_id")
      .select(col("user_id"), col("ts_us"), col("value"))
      .as[(java.lang.Long, java.lang.Long, java.lang.Double)]
      .mapPartitions { it =>
        var uid: java.lang.Long = null
        var started = false
        val ringTs = new Array[java.lang.Long](cap)
        val ringV = new Array[java.lang.Double](cap)
        // rows of the current series seen so far: Long, so one giant
        // series cannot wrap the count and index the ring negatively
        var n = 0L
        it.flatMap { case (u, ts, v) =>
          if (!started || !java.util.Objects.equals(u, uid)) {
            uid = u; n = 0L; started = true
          }
          val lo = math.max(0L, n - cap)
          val out =
            new scala.collection.mutable.ArrayBuffer[(java.lang.Long, java.lang.Long)](
              (n - lo).toInt)
          var j = lo
          while (j < n) {
            val bTs = ringTs((j % cap).toInt)
            val bV = ringV((j % cap).toInt)
            if (bTs != null && ts != null && bTs.longValue < ts.longValue) {
              val sm: java.lang.Long =
                if (bV == null || v == null) null
                else java.lang.Long.valueOf(math.floor(
                  (v.doubleValue - bV.doubleValue) * 3600000000.0
                    / (ts.longValue - bTs.longValue).toDouble * 1000000
                    + 0.5).toLong)
              out += ((u, sm))
            }
            j += 1
          }
          ringTs((n % cap).toInt) = ts
          ringV((n % cap).toInt) = v
          n += 1
          out
        }
      }
      .toDF("user_id", "sm")
    slopeMedian(slopes)
  }

  /** Exact all-pairs Theil-Sen — the O(n²)-per-series reference form the
    * windowed contract query reduces to when cap >= series length. Kept as
    * the ScalaTest twin (and a correct-but-quadratic baseline for bounded
    * series); the self-join keys on user_id so both sides share ONE reused
    * exchange.
    */
  def theilsenExact(s: SparkSession, d: String): DataFrame = {
    val dd = U.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
    dd.as("a")
      .join(
        dd.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.ts_us") < col("b.ts_us"))
      .select(
        col("a.user_id").as("user_id"),
        floor(
          (col("b.value") - col("a.value")) * lit(3600000000.0)
            / (col("b.ts_us") - col("a.ts_us")) * 1000000 + 0.5)
          .cast("long").as("sm"))
      .transform(slopeMedian)
  }

  /** Epoch-seconds floor bucket, identical in Spark and DuckDB. */
  private def bucket(seconds: Int) =
    (floor(unix_timestamp(col("ts")) / seconds) * seconds).cast("long")

  /** Recursive-CTE oracle for `q_ts_holt` (r12; VERDICT r11 item 5). The
    * list_reduce fold form is blocked by DuckDB's in-place struct-
    * accumulator mutation (see the key's scaladoc), but WITH RECURSIVE
    * over (series, row_number) carries (l, b) as plain columns: the
    * anchor arm seeds (v_1, 0) per series, the recursive arm joins row
    * rn+1 in and applies the engine's EXACT IEEE expression tree —
    * `0.5*v + 0.5*(l+b)` then `0.25*(ln-l) + 0.75*b`, ln repeated inline
    * (same expression → same bits; no lateral-alias dependence). `d` is
    * MATERIALIZED (the recursive arm scans it once per iteration; DuckDB
    * would otherwise recompute the window per iteration — the
    * NgramJacSqlCte lesson). Iterations = max series length (99 on the
    * driver data at every SF — series count scales, length doesn't), so
    * the oracle is ~0.1 s at sf0.01 and 2.3 s at sf1, measured.
    */
  private[ops] val HoltOracleSql: String =
    """WITH RECURSIVE d AS MATERIALIZED (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events),
      |r(user_id, rn, n, l, b) AS (
      |  SELECT user_id, rn, n, value AS l, CAST(0 AS DOUBLE) AS b FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.user_id, d.rn, d.n,
      |    0.5*d.value + 0.5*(r.l + r.b),
      |    0.25*((0.5*d.value + 0.5*(r.l + r.b)) - r.l) + 0.75*r.b
      |  FROM r JOIN d ON d.user_id = r.user_id AND d.rn = r.rn + 1)
      |SELECT user_id, n, floor(l*1000000 + 0.5)/1000000 AS level,
      |  floor(b*1000000 + 0.5)/1000000 AS trend
      |FROM r WHERE rn = n ORDER BY user_id""".stripMargin

  /** Recursive-CTE oracle for `q_ts_holtwinters`: [[HoltOracleSql]]'s
    * construction with the six seasonal slots as plain columns. The
    * engine's in-place `sArr(idx) = ...` write becomes a column-preserving
    * CASE per slot keyed on (rn-1) % 6 — only the active slot updates, the
    * other five copy through — and sOld/ln are the same repeated inline
    * expressions, so every arithmetic step is the engine's IEEE tree.
    * SQL is GENERATED (six mechanical slot columns), the PageRankOracleSql
    * discipline.
    */
  private[ops] val HoltWintersOracleSql: String = {
    val sold = "CASE (d.rn-1)%6 " +
      (0 until 6).map(k => s"WHEN $k THEN r.s$k").mkString(" ") + " END"
    val ln = s"(0.5*(d.value - $sold) + 0.5*(r.l + r.b))"
    val bn = s"(0.25*($ln - r.l) + 0.75*r.b)"
    val sCols = (0 until 6).map(k =>
      s"CASE WHEN (d.rn-1)%6 = $k THEN 0.25*(d.value - $ln) + 0.75*r.s$k " +
        s"ELSE r.s$k END AS s$k").mkString(",\n    ")
    val emit = (0 until 6)
      .map(k => s"floor(s$k*1000000 + 0.5)/1000000 AS s$k").mkString(", ")
    s"""WITH RECURSIVE d AS MATERIALIZED (
       |  SELECT user_id, value,
       |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn,
       |    count(*) OVER (PARTITION BY user_id) AS n
       |  FROM events),
       |r(user_id, rn, n, l, b, s0, s1, s2, s3, s4, s5) AS (
       |  SELECT user_id, rn, n, value, CAST(0 AS DOUBLE),
       |    CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
       |    CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
       |  FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.user_id, d.rn, d.n, $ln, $bn,
       |    $sCols
       |  FROM r JOIN d ON d.user_id = r.user_id AND d.rn = r.rn + 1)
       |SELECT user_id, n,
       |  floor(l*1000000 + 0.5)/1000000 AS level,
       |  floor(b*1000000 + 0.5)/1000000 AS trend,
       |  $emit
       |FROM r WHERE rn = n ORDER BY user_id""".stripMargin
  }

  /** Oracle for `q_ts_downsample_lttb` (r12): the LTTB selection recurrence
    * UNROLLED as m-2 = 10 chained CTEs — the PageRankOracleSql discipline
    * (the bucket count is a constant of the operator, and each step needs
    * a per-series argmax, which SQL forbids inside a recursive CTE). Every
    * arithmetic step repeats the engine kernel's pinned IEEE tree: bucket
    * averages as LEFT-TO-RIGHT list_reduce sums over (idx-ordered) lists
    * divided by count (seeding with the first element equals the kernel's
    * 0.0+x₀), the one fixed cross-product area form on double-cast
    * timestamps, and the strict-> keep-earliest tie as
    * `ORDER BY area DESC, idx ASC`. Bucket boundaries are the kernel's
    * truncating longs (`(k+1)·ni/buckets` = DuckDB `//` on positives).
    * Series with n <= m pass through unchanged, rank = rn-1. Heavy CTEs
    * are MATERIALIZED (interior/anch are referenced by all 10 steps — the
    * NgramJacSqlCte inlining lesson). Bit-identical to the engine at
    * sf0.01 and 1.5 s at sf1, measured.
    */
  private[ops] val LttbOracleSql: String = {
    val buckets = 10 // m = 12 selections: first + 10 interior + last
    val sels = (0 until buckets).map { k =>
      val (anchor, ax, ay) =
        if (k < buckets - 1)
          (s"JOIN anch a ON a.user_id = i.user_id AND a.k = ${k + 1}", "a.ax", "a.ay")
        else
          ("JOIN lastp a ON a.user_id = i.user_id", "a.x", "a.y")
      val prev = if (k == 0) "p0" else s"s${k - 1}"
      val area = s"abs((p.px - $ax) * (i.y - p.py) - (p.px - i.x) * ($ay - p.py))"
      s"""s$k AS MATERIALIZED (
         |  SELECT user_id, ts_us, value, x AS px, y AS py FROM (
         |    SELECT i.user_id, i.ts_us, i.value, i.x, i.y,
         |      row_number() OVER (PARTITION BY i.user_id
         |        ORDER BY $area DESC, i.idx ASC) AS pick
         |    FROM interior i
         |    JOIN $prev p ON p.user_id = i.user_id
         |    $anchor
         |    WHERE i.k = $k)
         |  WHERE pick = 1)""".stripMargin
    }.mkString(",\n")
    val emits =
      Seq("SELECT user_id, CAST(0 AS BIGINT) AS sel_rank, ts_us, value FROM p0") ++
        (0 until buckets).map(k =>
          s"SELECT user_id, CAST(${k + 1} AS BIGINT), ts_us, value FROM s$k") ++
        Seq(
          "SELECT user_id, CAST(11 AS BIGINT), ts_us, value FROM lastp",
          "SELECT user_id, CAST(rn - 1 AS BIGINT), ts_us, value FROM d WHERE n <= 12")
    s"""WITH d AS MATERIALIZED (
       |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, value,
       |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn,
       |    count(*) OVER (PARTITION BY user_id) AS n
       |  FROM events),
       |big AS MATERIALIZED (SELECT * FROM d WHERE n > 12),
       |interior AS MATERIALIZED (
       |  SELECT b.user_id, b.ts_us, b.value, b.rn - 2 AS idx,
       |    CAST(b.ts_us AS DOUBLE) AS x, b.value AS y, r.k
       |  FROM big b JOIN range($buckets) r(k)
       |    ON b.rn - 2 >= (r.k * (b.n - 2)) // $buckets
       |   AND b.rn - 2 < ((r.k + 1) * (b.n - 2)) // $buckets
       |  WHERE b.rn >= 2 AND b.rn <= b.n - 1),
       |anch AS MATERIALIZED (
       |  SELECT user_id, k,
       |    list_reduce(list(x ORDER BY idx), (a, b) -> a + b) / count(*) AS ax,
       |    list_reduce(list(y ORDER BY idx), (a, b) -> a + b) / count(*) AS ay
       |  FROM interior GROUP BY user_id, k),
       |lastp AS MATERIALIZED (
       |  SELECT user_id, ts_us, value, CAST(ts_us AS DOUBLE) AS x, value AS y
       |  FROM big WHERE rn = n),
       |p0 AS MATERIALIZED (
       |  SELECT user_id, ts_us, value, CAST(ts_us AS DOUBLE) AS px, value AS py
       |  FROM big WHERE rn = 1),
       |$sels
       |SELECT * FROM (${emits.mkString(" UNION ALL ")})
       |ORDER BY user_id, sel_rank""".stripMargin
  }

  val qs: Seq[Q] = Seq(
    // Tumbling 15-minute buckets per series: count / avg / min / max.
    Q(
      "q_ts_bucket",
      """SELECT user_id,
        |  CAST(floor(floor(epoch(ts)) / 900) * 900 AS BIGINT) AS bkt,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) // count(*) AS avg_value_micro,
        |  min(value) AS min_value,
        |  max(value) AS max_value
        |FROM events GROUP BY user_id, bkt ORDER BY user_id, bkt""".stripMargin) {
      (s, d) =>
        U.events(s, d)
          .groupBy(col("user_id"), bucket(900).as("bkt"))
          .agg(
            count(lit(1)).as("n"),
            U.davgMicro("value").as("avg_value_micro"),
            min(col("value")).as("min_value"),
            max(col("value")).as("max_value"))
          .orderBy("user_id", "bkt")
    },

    // OHLC downsample: first/last by (ts, event_id) plus min/max per
    // series-day. first/last realized as rank-1 rows of asc/desc windows so
    // ties are deterministic in both engines.
    Q(
      "q_ts_downsample_ohlc",
      """WITH t AS (
        |  SELECT user_id, value,
        |    CAST(floor(floor(epoch(ts)) / 86400) * 86400 AS BIGINT) AS d,
        |    row_number() OVER (PARTITION BY user_id, CAST(floor(floor(epoch(ts)) / 86400) * 86400 AS BIGINT) ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY user_id, CAST(floor(floor(epoch(ts)) / 86400) * 86400 AS BIGINT) ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT user_id, d,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high,
        |  min(value) AS low,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  count(*) AS n
        |FROM t GROUP BY user_id, d ORDER BY user_id, d""".stripMargin) { (s, d) =>
      val day = bucket(86400)
      val wDay = Window.partitionBy(col("user_id"), col("d"))
      U.events(s, d)
        .select(col("user_id"), day.as("d"), col("ts"), col("event_id"), col("value"))
        .withColumn(
          "rn_a",
          row_number().over(wDay.orderBy(col("ts"), col("event_id"))))
        .withColumn(
          "rn_d",
          row_number().over(wDay.orderBy(col("ts").desc, col("event_id").desc)))
        .groupBy(col("user_id"), col("d"))
        .agg(
          max(when(col("rn_a") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rn_d") === 1, col("value"))).as("close"),
          count(lit(1)).as("n"))
        .orderBy("user_id", "d")
    },

    // Dense hourly spine per series, left join, forward fill (the honest
    // treatment of the sparse/late data the reference simply re-scans).
    Q(
      "q_ts_gapfill",
      """WITH b AS (
        |  SELECT user_id,
        |    CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT) AS bkt,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) // count(*) AS avg_v
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(bkt) AS b0, max(bkt) AS b1 FROM b GROUP BY 1),
        |spine AS (SELECT user_id, unnest(generate_series(b0, b1, 3600)) AS bkt FROM bounds)
        |SELECT s.user_id, s.bkt,
        |  last_value(b.avg_v IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id ORDER BY s.bkt
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_micro
        |FROM spine s LEFT JOIN b ON s.user_id = b.user_id AND s.bkt = b.bkt
        |ORDER BY s.user_id, s.bkt""".stripMargin) { (s, d) =>
      val hourly = U
        .events(s, d)
        .groupBy(col("user_id"), bucket(3600).as("bkt"))
        .agg(U.davgMicro("value").as("avg_v"))
      val spine = hourly
        .groupBy(col("user_id"))
        .agg(min(col("bkt")).as("b0"), max(col("bkt")).as("b1"))
        .select(
          col("user_id"),
          explode(sequence(col("b0"), col("b1"), lit(3600L))).as("bkt"))
      spine
        .join(hourly, Seq("user_id", "bkt"), "left")
        .withColumn(
          "filled_micro",
          last(col("avg_v"), ignoreNulls = true).over(
            Window
              .partitionBy(col("user_id"))
              .orderBy(col("bkt"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("user_id"), col("bkt"), col("filled_micro"))
        .orderBy("user_id", "bkt")
    },

    // Batch sessionization: a gap > 30 min starts a new session.
    Q(
      "q_ts_session",
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
        |           - lag(CAST(floor(epoch(ts)) AS BIGINT))
        |             OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
        |           OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |t AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
        |FROM t GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin) {
      (s, d) =>
        val epochS = unix_timestamp(col("ts"))
        val gap = epochS - lag(epochS, 1).over(wOrdered)
        U.events(s, d)
          .withColumn(
            "new_s",
            when(gap.isNull || gap > 1800, 1L).otherwise(0L))
          .withColumn(
            "session_id",
            sum(col("new_s")).over(
              wOrdered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(
            count(lit(1)).as("n_events"),
            min(unix_micros(col("ts"))).as("start_us"),
            max(unix_micros(col("ts"))).as("end_us"))
          .orderBy("user_id", "session_id")
    },

    // Time-weighted average per series (left-constant interpolation): each
    // sample holds its value until the next one, so TWA = Σ v_i·Δt_i / Σ Δt_i
    // over consecutive-sample segments. The irregular-sampling analogue of a
    // plain avg — THE canonical time-series aggregate the row-count average
    // gets wrong. One window shuffle by series key, then one tiny aggregate;
    // weights are epoch-micro BIGINTs and values go through DECIMAL so the
    // Σ v·Δt accumulation is exact and order-independent in both engines.
    Q(
      "q_ts_twa",
      """WITH t AS (SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, value FROM events),
        |seg AS (SELECT user_id,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS v0,
        |    ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS dt
        |  FROM t)
        |SELECT user_id, CAST(sum(dt) AS BIGINT) AS dur_us,
        |  CAST(floor(CAST(sum(CAST(v0 AS DECIMAL(18,6)) * dt) AS DOUBLE) / CAST(sum(dt) AS BIGINT) * 1000000 + 0.5) AS BIGINT) AS twa_micro
        |FROM seg WHERE dt IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, d) =>
        val wUs = Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        U.events(s, d)
          .select(
            col("user_id"),
            col("event_id"),
            unix_micros(col("ts")).as("ts_us"),
            col("value"))
          .select(
            col("user_id"),
            lag(col("value"), 1).over(wUs).as("v0"),
            (col("ts_us") - lag(col("ts_us"), 1).over(wUs)).as("dt"))
          .filter(col("dt").isNotNull)
          .groupBy(col("user_id"))
          .agg(
            sum(col("dt")).as("dur_us"),
            // floor(x·1e6 + 0.5) instead of round(x, 6): round() rounds
            // the shortest DECIMAL RENDERING in Spark but the binary value
            // in DuckDB — divergent at .xxxxxx5 boundaries — while this is
            // the same IEEE ops on the same double in both engines. (The
            // all-integer davgMicro form is out: the decimal numerator
            // ×1e6 here is value×duration_us and overflows BIGINT on
            // year-long series.)
            floor(
              sum(col("v0").cast(U.Dec) * col("dt")).cast("double") /
                sum(col("dt")) * 1000000 + 0.5)
              .cast("long").as("twa_micro"))
          .orderBy("user_id")
    },

    // Linear-interpolation gap-fill: same hourly spine as q_ts_gapfill, but
    // interior gaps are linearly interpolated between the surrounding
    // observations instead of forward-filled. v0/t0 come from a backward
    // IGNORE NULLS window, v1/t1 from a forward one — still exactly one
    // shuffle by series key. The interpolation arithmetic is written
    // IDENTICALLY in both engines (v0 + (v1-v0) * ((t-t0)/(t1-t0)), all
    // IEEE double ops in the same order), so results are bit-identical.
    Q(
      "q_ts_interp_linear",
      """WITH b AS (
        |  SELECT user_id,
        |    CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT) AS bkt,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) // count(*) AS avg_v
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(bkt) AS b0, max(bkt) AS b1 FROM b GROUP BY 1),
        |spine AS (SELECT user_id, unnest(generate_series(b0, b1, 3600)) AS bkt FROM bounds),
        |j AS (SELECT s.user_id, s.bkt, b.avg_v
        |      FROM spine s LEFT JOIN b ON s.user_id = b.user_id AND s.bkt = b.bkt),
        |f AS (SELECT user_id, bkt, avg_v,
        |    last_value(avg_v IGNORE NULLS) OVER wb AS v0,
        |    last_value(CASE WHEN avg_v IS NOT NULL THEN bkt END IGNORE NULLS) OVER wb AS t0,
        |    first_value(avg_v IGNORE NULLS) OVER wf AS v1,
        |    first_value(CASE WHEN avg_v IS NOT NULL THEN bkt END IGNORE NULLS) OVER wf AS t1
        |  FROM j
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY bkt
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wf AS (PARTITION BY user_id ORDER BY bkt
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, bkt,
        |  CASE WHEN avg_v IS NOT NULL THEN CAST(avg_v AS DOUBLE)
        |       ELSE CAST(v0 AS DOUBLE) + (CAST(v1 AS DOUBLE) - CAST(v0 AS DOUBLE))
        |            * ((bkt - t0) / (t1 - t0)) END AS interp_micro
        |FROM f ORDER BY user_id, bkt""".stripMargin) { (s, d) =>
      val hourly = U
        .events(s, d)
        .groupBy(col("user_id"), bucket(3600).as("bkt"))
        .agg(U.davgMicro("value").as("avg_v"))
      val spine = hourly
        .groupBy(col("user_id"))
        .agg(min(col("bkt")).as("b0"), max(col("bkt")).as("b1"))
        .select(
          col("user_id"),
          explode(sequence(col("b0"), col("b1"), lit(3600L))).as("bkt"))
      val wb = Window
        .partitionBy(col("user_id"))
        .orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // Forward lookup as a RUNNING frame over a DESCENDING sort: the
      // nearest non-null at-or-after the current bucket is the last
      // non-null seen when scanning buckets in descending order. Spark
      // evaluates (unboundedPreceding, currentRow) with the O(n)
      // UnboundedPrecedingWindowFunctionFrame, whereas the naive
      // (currentRow, unboundedFollowing) form re-scans the rest of the
      // partition for every row — O(n^2) per series (measured 17.9 s vs
      // 1.28 s for gapfill on the identical sf0.1 spine). Same user_id
      // exchange; only one extra in-partition sort.
      val wf = Window
        .partitionBy(col("user_id"))
        .orderBy(col("bkt").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val obsBkt = when(col("avg_v").isNotNull, col("bkt"))
      // all four lookups in ONE select: chained withColumn put a Project
      // between same-spec Window nodes, which blocked CollapseWindow and
      // left FOUR Window operators (four full passes over the spine,
      // .explain'd); grouped by spec here they plan as exactly two
      spine
        .join(hourly, Seq("user_id", "bkt"), "left")
        .select(
          col("user_id"),
          col("bkt"),
          col("avg_v"),
          last(col("avg_v"), ignoreNulls = true).over(wb).as("v0"),
          last(obsBkt, ignoreNulls = true).over(wb).as("t0"),
          last(col("avg_v"), ignoreNulls = true).over(wf).as("v1"),
          last(obsBkt, ignoreNulls = true).over(wf).as("t1"))
        .select(
          col("user_id"),
          col("bkt"),
          // endpoints are exact micro BIGINTs (≤3.3e8, exact as doubles);
          // the interpolation is the identical IEEE op sequence in both
          // engines, so the double result is bit-identical with no
          // rounding step at all
          when(col("avg_v").isNotNull, col("avg_v").cast("double"))
            .otherwise(
              col("v0").cast("double") +
                (col("v1").cast("double") - col("v0").cast("double")) *
                ((col("bkt") - col("t0")) / (col("t1") - col("t0"))))
            .as("interp_micro"))
        .orderBy("user_id", "bkt")
    },

    // Ordered-event funnel: signup -> first click at-or-after the signup ->
    // first purchase at-or-after that click, per user. Three bounded
    // aggregations joined on the series key (each one row per user, so the
    // joins are between pre-aggregated frames that co-partition on user_id);
    // timestamps compare as epoch micros. The canonical product-analytics
    // query over an events stream.
    Q(
      "q_funnel",
      """WITH su AS (SELECT user_id, min(epoch_us(ts)) AS t_signup
        |            FROM events WHERE event_type = 'signup' GROUP BY 1),
        |cl AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_click
        |       FROM events e JOIN su ON e.user_id = su.user_id
        |       WHERE e.event_type = 'click' AND epoch_us(e.ts) >= su.t_signup
        |       GROUP BY 1),
        |pu AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
        |       FROM events e JOIN cl ON e.user_id = cl.user_id
        |       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= cl.t_click
        |       GROUP BY 1)
        |SELECT su.user_id, su.t_signup, cl.t_click, pu.t_purchase,
        |  CAST(CASE WHEN pu.user_id IS NOT NULL THEN 3
        |            WHEN cl.user_id IS NOT NULL THEN 2
        |            ELSE 1 END AS BIGINT) AS stage
        |FROM su LEFT JOIN cl ON su.user_id = cl.user_id
        |LEFT JOIN pu ON su.user_id = pu.user_id
        |ORDER BY su.user_id""".stripMargin) { (s, d) =>
      val ev = U.events(s, d)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
      val su = ev
        .filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(col("ts_us")).as("t_signup"))
      val cl = ev
        .filter(col("event_type") === "click")
        .join(su, "user_id")
        .filter(col("ts_us") >= col("t_signup"))
        .groupBy(col("user_id"))
        .agg(min(col("ts_us")).as("t_click"))
      val pu = ev
        .filter(col("event_type") === "purchase")
        .join(cl, "user_id")
        .filter(col("ts_us") >= col("t_click"))
        .groupBy(col("user_id"))
        .agg(min(col("ts_us")).as("t_purchase"))
      su.join(cl, Seq("user_id"), "left")
        .join(pu, Seq("user_id"), "left")
        .select(
          col("user_id"),
          col("t_signup"),
          col("t_click"),
          col("t_purchase"),
          when(col("t_purchase").isNotNull, 3L)
            .when(col("t_click").isNotNull, 2L)
            .otherwise(1L)
            .as("stage"))
        .orderBy("user_id")
    },

    // Counter-rate with reset detection (the monitoring-system staple —
    // Prometheus `rate()` semantics): per series, sum consecutive deltas,
    // but a NEGATIVE delta means the counter reset, so the post-reset
    // absolute value is the true increase. All increments are milli-scaled
    // BIGINTs (exact, order-independent sum); the final rate division is
    // one identical double op. One window shuffle + one tiny aggregate.
    Q(
      "q_ts_rate",
      """WITH t AS (SELECT user_id, event_id,
        |    CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm
        |  FROM events),
        |d AS (SELECT user_id, ts_us, vm,
        |    vm - lag(vm) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS delta_m
        |  FROM t)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN delta_m IS NULL THEN 0
        |                WHEN delta_m < 0 THEN vm
        |                ELSE delta_m END) AS BIGINT) AS increase_m,
        |  CAST(count(*) FILTER (delta_m < 0) AS BIGINT) AS n_resets,
        |  max(ts_us) - min(ts_us) AS dur_us,
        |  (CAST(sum(CASE WHEN delta_m IS NULL THEN 0
        |                 WHEN delta_m < 0 THEN vm
        |                 ELSE delta_m END) AS BIGINT) / 1000.0) /
        |    ((max(ts_us) - min(ts_us)) / 1000000.0) AS rate_per_s
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val wOrd = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val increase = sum(
        when(col("delta_m").isNull, 0L)
          .when(col("delta_m") < 0, col("vm"))
          .otherwise(col("delta_m"))).cast("long")
      val durUs = max(col("ts_us")) - min(col("ts_us"))
      U.events(s, d)
        .select(
          col("user_id"),
          col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          floor(col("value") * 1000 + 0.5).cast("long").as("vm"))
        .withColumn("delta_m", col("vm") - lag(col("vm"), 1).over(wOrd))
        .groupBy(col("user_id"))
        .agg(
          increase.as("increase_m"),
          count(when(col("delta_m") < 0, 1)).as("n_resets"),
          durUs.as("dur_us"),
          ((increase / 1000.0) / (durUs / 1000000.0)).as("rate_per_s"))
        .orderBy("user_id")
    },

    // Seasonal decomposition (hour-of-day profile): seasonal = the series'
    // mean at that hour of day, residual = value - seasonal — the
    // first-order de-seasonalization any telemetry anomaly pipeline runs
    // before thresholding (a fan running "hot" at 3am is an anomaly; at
    // 3pm it's summer). One bounded agg on (series, hour) + a co-partitioned
    // join back; the seasonal profile is 24 rows per series.
    // Everything integral: the seasonal mean is floor(Σv·10⁶ / n) in exact
    // integer arithmetic (the sum is a scale-6 decimal, so ×10⁶ is an
    // exact BIGINT). CAUTION on the division: DuckDB `//` is FLOOR
    // division but Spark `div` TRUNCATES toward zero — they coincide ONLY
    // because the summed values here are non-negative. Reusing this shape
    // for a signed measure requires a trunc-consistent formulation (e.g.
    // sign(x)*( abs(x)//n )) or the engines silently diverge by one grid
    // unit on negative sums. Also: a round(double,4) here landed on a
    // .xxxx5 half boundary at sf0.1 where Spark (HALF_UP) and DuckDB
    // disagree by 1e-4 — hence the integer grid.
    Q(
      "q_ts_seasonal",
      """WITH prof AS (
        |  SELECT user_id, CAST(hour(ts) AS BIGINT) AS hod,
        |    CAST(CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) * 1000000 AS BIGINT) // count(*) AS BIGINT) AS seasonal_e6
        |  FROM events GROUP BY 1, 2)
        |SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts_us,
        |  CAST(floor(e.value * 1000000 + 0.5) AS BIGINT) AS value_e6,
        |  p.seasonal_e6,
        |  CAST(floor(e.value * 1000000 + 0.5) AS BIGINT) - p.seasonal_e6 AS residual_e6
        |FROM events e
        |JOIN prof p ON e.user_id = p.user_id AND CAST(hour(e.ts) AS BIGINT) = p.hod
        |ORDER BY e.user_id, e.event_id""".stripMargin) { (s, d) =>
      val prof = U.events(s, d)
        .groupBy(col("user_id").as("p_user"), hour(col("ts")).cast("long").as("hod"))
        .agg(
          expr(
            "CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) * 1000000 AS BIGINT) div count(*)")
            .as("seasonal_e6"))
      val valueE6 = floor(col("value") * 1000000 + 0.5).cast("long")
      U.events(s, d)
        .join(
          prof,
          col("user_id") === col("p_user") &&
            hour(col("ts")).cast("long") === col("hod"))
        .select(
          col("user_id"),
          col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          valueE6.as("value_e6"),
          col("seasonal_e6"),
          (valueE6 - col("seasonal_e6")).as("residual_e6"))
        .orderBy("user_id", "event_id")
    },

    // Hopping (sliding) windows: 15-minute windows advancing every 5
    // minutes, so each event lands in exactly 3 overlapping windows —
    // batch analog of `window(ts, "15 minutes", "5 minutes")`, written as
    // an explicit 3-way explode so the DuckDB oracle can mirror it
    // verbatim. Map-side fan-out (x3) then ONE partial-aggregated shuffle
    // keyed by (series, window) — the fan-out factor is len/hop, a
    // constant, so cost scales linearly at any corpus size.
    Q(
      "q_ts_hopping",
      """WITH h AS (SELECT user_id, value,
        |    (CAST(floor(floor(epoch(ts)) / 300) AS BIGINT) - CAST(unnest(generate_series(0, 2)) AS BIGINT)) * 300 AS w_start
        |  FROM events)
        |SELECT user_id, w_start, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) // count(*) AS avg_v_micro
        |FROM h GROUP BY user_id, w_start ORDER BY user_id, w_start""".stripMargin) {
      (s, d) =>
        U.events(s, d)
          .select(
            col("user_id"),
            col("value"),
            floor(unix_timestamp(col("ts")) / 300).cast("long").as("hop"),
            explode(sequence(lit(0L), lit(2L))).as("i"))
          .select(
            col("user_id"),
            col("value"),
            ((col("hop") - col("i")) * 300).as("w_start"))
          .groupBy(col("user_id"), col("w_start"))
          .agg(
            count(lit(1)).as("n"),
            U.davgMicro("value").as("avg_v_micro"))
          .orderBy("user_id", "w_start")
    },

    // Per-series z-score anomaly detection — the statistical generalization
    // of the reference's fixed-threshold fault rule (main.rs:384-406):
    // flag readings more than 3 population-σ from the series mean. The
    // moments (n, Σv, Σv²) accumulate as exact decimals (same recipe as
    // q_agg_corr, order-independent), the z arithmetic runs in doubles
    // written identically in both engines. One agg shuffle for the
    // per-series stats, then a stats⋈events join on the series key —
    // Catalyst broadcasts the stats side while it fits, co-partitioned
    // shuffle join beyond that.
    Q(
      "q_ts_anomaly_zscore",
      """WITH m AS (SELECT user_id, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value AS DECIMAL(20,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY user_id)
        |SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts_us, e.value,
        |  CAST(floor((e.value - sx / n) / sqrt(sxx / n - (sx / n) * (sx / n)) * 10000 + 0.5) AS BIGINT) AS z_e4
        |FROM events e JOIN m ON e.user_id = m.user_id
        |WHERE abs((e.value - sx / n) / sqrt(sxx / n - (sx / n) * (sx / n))) > 3.0
        |ORDER BY e.user_id, e.event_id""".stripMargin) { (s, d) =>
      val stats = U.events(s, d)
        .groupBy(col("user_id").as("m_user"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(U.Dec)).cast("double").as("sx"),
          sum(col("value").cast(U.Dec20) * col("value").cast(U.Dec))
            .cast("double").as("sxx"))
      val mean = col("sx") / col("n")
      val z = (col("value") - mean) / sqrt(col("sxx") / col("n") - mean * mean)
      U.events(s, d)
        .join(stats, col("user_id") === col("m_user"))
        .filter(abs(z) > 3.0)
        .select(
          col("user_id"),
          col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("value"),
          // floor(z·1e4 + 0.5): identical IEEE ops in both engines — no
          // rendering-based round() boundary (z's doubles are themselves
          // bit-identical: exact-decimal moments cast once)
          floor(z * 10000 + 0.5).cast("long").as("z_e4"))
        .orderBy("user_id", "event_id")
    },

    // Exponentially weighted moving average per series (alpha = 0.25, an
    // exact power of two so every fold step is a clean IEEE op):
    // e_0 = v_0; e_i = alpha*v_i + (1-alpha)*e_{i-1}. Inherently a
    // sequential fold — not expressible as a frame-based SQL window — so
    // this is the one typed-Dataset operator, built as a SECONDARY SORT:
    // repartition by series key, sortWithinPartitions(series, ts, event_id)
    // (SortExec's UnsafeExternalSorter — spills to disk, unlike a
    // mapGroups toSeq which pins the whole group on-heap), then a
    // mapPartitions streaming fold holding O(1) state per group. ONE
    // shuffle by series key; a year-long hot series costs disk, not an
    // executor OOM. The recursive fold IS oracle-expressible: DuckDB's
    // list_reduce over list(value ORDER BY ts, event_id) runs the
    // identical sequence of IEEE ops (seeded with the first element =
    // e_0 = v_0), and the final rounding is floor(x*1e6 + 0.5)/1e6 —
    // floor-on-double, bit-identical in both engines (rint's half-even
    // would not be). The oracle materializes each series as a list; the
    // engine's secondary sort is exactly what avoids that at scale.
    Q(
      "q_ts_ewma",
      """SELECT user_id, count(*) AS n,
        |  floor(list_reduce(list(value ORDER BY ts, event_id),
        |                    (acc, x) -> 0.25*x + 0.75*acc) * 1000000 + 0.5)
        |    / 1000000 AS ewma
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      foldSeries[Double, (Long, Long, Double)](s, d)(
        seed = v => v,
        step = ewmaStep,
        finish = (uid, n, e) => (uid, n, math.floor(e * 1e6 + 0.5) / 1e6))
        .toDF("user_id", "n", "ewma")
        .orderBy("user_id")
    },

    // Holt double-exponential smoothing per series (level + trend; alpha =
    // 0.5, beta = 0.25, both powers of two): l_0 = v_0, b_0 = 0;
    // l_i = α·v_i + (1-α)·(l+b); b_i = β·(l_i - l) + (1-β)·b. The
    // forecasting generalization of q_ts_ewma, same secondary-sort
    // mapPartitions kernel with TWO fold variables instead of one — the
    // pattern extends to any per-series recurrence at O(1) state.
    // ORACLE'd since r12 via a recursive CTE ([[HoltOracleSql]]): the fold
    // form stays blocked — DuckDB v1.0.0's list_reduce evaluates struct
    // fields sequentially and mutates the accumulator in place, so a
    // two-field recurrence where both fields read the old state returns
    // corrupted values (verified: fold of {l,b} over [1,2,4] yields
    // b=0.2578125 where the recurrence gives 0.421875; the scalar-fold
    // EWMA oracle is immune) — but a WITH RECURSIVE over (series,
    // row_number) carries (l, b) as PLAIN COLUMNS, no struct accumulator
    // anywhere, and each arm repeats the engine's exact IEEE expression
    // tree. The pagerank-graduation trick applied to per-series
    // recurrences. TsOpsSpec keeps the driver-side fold replay as the
    // in-process twin.
    Q("q_ts_holt", HoltOracleSql) { (s, d) =>
      import s.implicits._
      val alpha = 0.5
      val beta = 0.25
      foldSeries[(Double, Double), (Long, Long, Double, Double)](s, d)(
        seed = v => (v, 0.0),
        step = { case ((l, b), v) =>
          val ln = alpha * v + (1 - alpha) * (l + b)
          (ln, beta * (ln - l) + (1 - beta) * b)
        },
        finish = (uid, n, st) => (uid, n,
          math.floor(st._1 * 1e6 + 0.5) / 1e6,
          math.floor(st._2 * 1e6 + 0.5) / 1e6))
        .toDF("user_id", "n", "level", "trend")
        .orderBy("user_id")
    },

    // Weekly cohort retention: users grouped by first-activity week; count
    // how many of each cohort are still active k weeks later — the standard
    // product-analytics triangle. Week = floor(epoch-day / 7): positive
    // day numbers, so Spark's trunc-division `div` and DuckDB's floor `//`
    // agree (documented divergence for signed inputs — see q_ts_seasonal).
    // Scale: events collapse to DISTINCT (user, week) at the first
    // exchange (bounded by users × calendar weeks, not event volume); the
    // cohort frame joins back co-partitioned on the user key.
    Q(
      "q_ts_retention",
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk
        |  FROM events),
        |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM act GROUP BY 1)
        |SELECT cohort_wk, act.wk - cohort_wk AS week_offset,
        |  count(*) AS n_users
        |FROM act JOIN cohort USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val act = U.events(s, d)
        .select(
          col("user_id"),
          expr(
            "CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT) div 7")
            .as("wk"))
        .distinct()
      val cohort = act.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      act
        .join(cohort, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_wk", "week_offset")
    },

    // Robust per-series outlier detection via MAD (median absolute
    // deviation): |v − median| > 3·1.4826·MAD — the breakdown-resistant
    // complement to q_ts_anomaly_zscore, whose mean/σ are themselves
    // dragged by the outliers they're meant to find (50% breakdown point
    // vs 0%). Exactness: medians are exact percentiles (a data value on
    // odd counts, one (a+b)/2 interpolation on even); the 3·1.4826·mad
    // threshold folds left-to-right identically in both engines. Scale
    // (r18 rewrite): ONE series-key exchange runs the whole thing — both
    // rank-selected medians are window CONDITIONAL AGGREGATES over the
    // same partitioning (sum/count of the two middle-ranked rows), so the
    // old shape's two median frames and two re-join scans (4 parquet
    // scans, 5 exchanges, 2 joins — .explain'd) collapse into a single
    // scan, one exchange, two in-partition sorts and zero joins. The
    // selected-row sums are 1- or 2-element double sums, and IEEE addition
    // of two doubles is commutative, so the window aggregate's
    // sort-order evaluation is bit-identical to the old groupBy sum.
    Q(
      "q_ts_outlier_mad",
      """WITH r1 AS (SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS m
        |  FROM events),
        |m AS (SELECT user_id, sum(value) / count(*) AS med
        |      FROM r1 WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2 GROUP BY 1),
        |d AS (SELECT e.user_id, abs(e.value - m.med) AS dev, m.med AS med
        |      FROM events e JOIN m USING (user_id)),
        |r2 AS (SELECT user_id, dev,
        |    row_number() OVER (PARTITION BY user_id ORDER BY dev) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS m
        |  FROM d),
        |md AS (SELECT user_id, sum(dev) / count(*) AS mad
        |       FROM r2 WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2 GROUP BY 1)
        |SELECT d.user_id, count(*) AS n,
        |  count(*) FILTER (WHERE dev > 3 * 1.4826 * mad) AS n_outliers,
        |  CAST(floor(any_value(d.med) * 1000000 + 0.5) AS BIGINT) AS med_e6,
        |  CAST(floor(any_value(mad) * 1000000 + 0.5) AS BIGINT) AS mad_e6
        |FROM d JOIN md USING (user_id)
        |GROUP BY d.user_id ORDER BY d.user_id""".stripMargin) { (s, d) =>
      // rank-selected medians, not the engines' median() builtins: the
      // builtins interpolate even counts with DIFFERENT op orders (Spark
      // lo + (hi-lo)*0.5, DuckDB (a+b)/2 -- up to 1 ulp apart on doubles)
      // and Spark's exact percentile buffers the whole series in one
      // on-heap aggregation buffer. Both engines sum the same two
      // rank-selected rows and divide -- identical IEEE, spillable sort.
      val ev = U.events(s, d).select(col("user_id"), col("value"))
      // median as a windowed conditional aggregate: rn ranks the rows,
      // m is the partition count, and the two middle ranks' sum/count
      // over the SAME partitioning yields the median with no join back
      val wU = Window.partitionBy(col("user_id"))
      val sel1 =
        col("rn") === expr("(m + 1) div 2") || col("rn") === expr("(m + 2) div 2")
      val withMed = ev
        .select(
          col("user_id"),
          col("value"),
          row_number().over(wU.orderBy(col("value"))).as("rn"),
          count(lit(1)).over(wU).as("m"))
        .withColumn(
          "med",
          sum(when(sel1, col("value"))).over(wU) /
            count(when(sel1, lit(1))).over(wU))
      val sel2 =
        col("rn2") === expr("(m + 1) div 2") || col("rn2") === expr("(m + 2) div 2")
      withMed
        .select(
          col("user_id"),
          col("m"),
          col("med"),
          abs(col("value") - col("med")).as("dev"))
        .withColumn("rn2", row_number().over(wU.orderBy(col("dev"))))
        .withColumn(
          "mad",
          sum(when(sel2, col("dev"))).over(wU) /
            count(when(sel2, lit(1))).over(wU))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n"),
          count(when(col("dev") > lit(3) * lit(1.4826) * col("mad"), 1))
            .as("n_outliers"),
          floor(first(col("med")) * 1000000 + 0.5).cast("long").as("med_e6"),
          floor(first(col("mad")) * 1000000 + 0.5).cast("long").as("mad_e6"))
        .orderBy("user_id")
    },

    // Per-series min-max normalization to [0,1] — the feature-scaling
    // staple (and the same normalize-then-bit-interleave step the Z-order
    // writer uses). Degenerate constant series pin to 0.5 in both engines
    // rather than dividing by zero. Scale: one tiny (series, lo, hi)
    // aggregate broadcast back over the events — the fact never shuffles;
    // the normalization itself is a codegen'd scan.
    Q(
      "q_ts_normalize",
      """WITH b AS (
        |  SELECT user_id, min(value) AS lo, max(value) AS hi
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.user_id,
        |  CAST(floor((CASE WHEN hi = lo THEN 0.5
        |              ELSE (e.value - lo) / (hi - lo) END) * 1000000 + 0.5) AS BIGINT) AS value_norm_e6
        |FROM events e JOIN b USING (user_id)
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val ev = U.events(s, d)
      val b = ev.groupBy(col("user_id"))
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      ev.join(broadcast(b), "user_id")
        .select(
          col("event_id"),
          col("user_id"),
          floor(
            when(col("hi") === col("lo"), 0.5)
              .otherwise((col("value") - col("lo")) / (col("hi") - col("lo")))
              * 1000000 + 0.5)
            .cast("long").as("value_norm_e6"))
        .orderBy("event_id")
    },

    // CUSUM change-point statistic per series (Page 1954): against the
    // series' own mean mu, the one-sided cumulative sums
    // s+_i = max(0, s+_{i-1} + (x_i - mu - k)) and
    // s-_i = min(0, s-_{i-1} + (x_i - mu + k)) with slack k = 0.25 — a
    // sustained shift above/below the mean accumulates where noise resets;
    // alarm thresholding is a trivial filter on the emitted statistics.
    // The third instantiation of the secondary-sort fold kernel after
    // EWMA/Holt, with the per-series mean joined in before the fold (the
    // mean frame is series-cardinality — broadcast-sized — but the join
    // output MUST be hash-partitioned by series for the fold, so the
    // explicit repartition stays; one exchange either way). Oracle: mu is
    // an exact micro-int mean, and BOTH folds are SCALAR list_reduce
    // recurrences (seeded 0 via list_prepend), so the two-fold trick
    // sidesteps the DuckDB struct-accumulator bug that blocks a q_ts_holt
    // oracle — each fold is the identical IEEE op sequence in both engines.
    Q(
      "q_ts_changepoint",
      """WITH g AS (
        |  SELECT user_id, list(value ORDER BY ts, event_id) AS l, count(*) AS n,
        |    CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) / 1000.0 AS mu
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n,
        |  floor(mu * 1000000 + 0.5) / 1000000 AS mu,
        |  floor(list_reduce(list_prepend(0.0, l),
        |          (acc, x) -> greatest(0.0, acc + (x - mu - 0.25))) * 1000000 + 0.5)
        |    / 1000000 AS cusum_pos,
        |  floor(list_reduce(list_prepend(0.0, l),
        |          (acc, x) -> least(0.0, acc + (x - mu + 0.25))) * 1000000 + 0.5)
        |    / 1000000 AS cusum_neg
        |FROM g ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val k = 0.25
      val ev = U.events(s, d)
      val mu = ev.groupBy(col("user_id"))
        .agg(
          (sum(floor(col("value") * 1000 + 0.5).cast("long")).cast("double") /
            count(lit(1)) / 1000.0).as("mu"))
      ev.select(
          col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_id"),
          col("value"))
        .join(mu, "user_id")
        .repartition(col("user_id"))
        .sortWithinPartitions("user_id", "ts_us", "event_id")
        .select(col("user_id"), col("ts_us"), col("event_id"), col("value"), col("mu"))
        .as[(Long, Long, Long, Double, Double)]
        .mapPartitions { it =>
          // same streaming run-fold shape as foldSeries, widened by the
          // per-row mu column (constant within a series)
          new Iterator[(Long, Long, Double, Double, Double)] {
            private var pending: (Long, Long, Long, Double, Double) =
              if (it.hasNext) it.next() else null
            def hasNext: Boolean = pending != null
            def next(): (Long, Long, Double, Double, Double) = {
              val uid = pending._1
              val mu = pending._5
              var sp = math.max(0.0, 0.0 + (pending._4 - mu - k))
              var sm = math.min(0.0, 0.0 + (pending._4 - mu + k))
              var n = 1L
              pending = null
              while (pending == null && it.hasNext) {
                val r = it.next()
                if (r._1 == uid) {
                  sp = math.max(0.0, sp + (r._4 - mu - k))
                  sm = math.min(0.0, sm + (r._4 - mu + k))
                  n += 1
                } else pending = r
              }
              (uid, n,
                math.floor(mu * 1e6 + 0.5) / 1e6,
                math.floor(sp * 1e6 + 0.5) / 1e6,
                math.floor(sm * 1e6 + 0.5) / 1e6)
            }
          }
        }
        .toDF("user_id", "n", "mu", "cusum_pos", "cusum_neg")
        .orderBy("user_id")
    },

    // Lagged cross-correlation between two series (user 1 vs user 2) — the
    // lead/lag diagnostic pair the reference's HVAC domain implies (supply
    // fan speed vs duct pressure, G36: a fault shows as the response series
    // correlating with the command series at a LAG). Series align on 4-hour
    // buckets; per bucket the milli-scaled integer value sum (exact BIGINT —
    // value is 3-decimal, so *1000 is integral); Pearson per lag in
    // {-2..2} buckets via the q_agg_corr exact-moment recipe — DECIMAL
    // (20,0)x(18,0) products keep moments exact at any scale (BIGINT sums
    // of products would overflow past ~1e5 buckets), and only the
    // closed-form finish runs in doubles, written identically in both
    // engines. Scale: the per-series bucket aggregate is the one real
    // exchange (partial-agg, bounded by buckets x series, not events); the
    // lag fan-out and the x-y alignment join are broadcasts of that tiny
    // frame, so adding lags costs nothing at 100 TB.
    Q(
      "q_ts_xcorr",
      """WITH b AS (
        |  SELECT user_id, CAST(floor(floor(epoch(ts)) / 14400) * 14400 AS BIGINT) AS bkt,
        |         sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS sm
        |  FROM events WHERE user_id IN (1, 2) GROUP BY 1, 2),
        |l AS (SELECT unnest([-2, -1, 0, 1, 2]) AS lag),
        |p AS (
        |  SELECT l.lag, x.sm AS xs, y.sm AS ys
        |  FROM l
        |  JOIN b x ON x.user_id = 1
        |  JOIN b y ON y.user_id = 2 AND y.bkt = x.bkt + l.lag * 14400),
        |m AS (
        |  SELECT lag, count(*) AS n,
        |    CAST(sum(CAST(xs AS DECIMAL(18,0))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(ys AS DECIMAL(18,0))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(xs AS DECIMAL(20,0)) * CAST(xs AS DECIMAL(18,0))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(ys AS DECIMAL(20,0)) * CAST(ys AS DECIMAL(18,0))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(xs AS DECIMAL(20,0)) * CAST(ys AS DECIMAL(18,0))) AS DOUBLE) AS sxy
        |  FROM p GROUP BY lag)
        |SELECT lag, n,
        |  CASE WHEN n > 1 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
        |    THEN CAST(floor((n * sxy - sx * sy) /
        |               (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) * 1000000 + 0.5) AS BIGINT)
        |  END AS xcorr_e6
        |FROM m ORDER BY lag""".stripMargin) { (s, d) =>
      import s.implicits._
      val BucketS = 14400
      val d18 = org.apache.spark.sql.types.DecimalType(18, 0)
      val d20 = org.apache.spark.sql.types.DecimalType(20, 0)
      val b = U.events(s, d)
        .filter(col("user_id").isin(1, 2))
        .groupBy(col("user_id"), bucket(BucketS).as("bkt"))
        .agg(sum(floor(col("value") * 1000 + 0.5).cast("long")).as("sm"))
      val x = b.filter(col("user_id") === 1)
        .select(col("bkt").as("xbkt"), col("sm").as("xs"))
      val y = b.filter(col("user_id") === 2)
        .select(col("bkt").as("ybkt"), col("sm").as("ys"))
      val lags = Seq(-2, -1, 0, 1, 2).toDF("lag")
      val vxx = col("n") * col("sxx") - col("sx") * col("sx")
      val vyy = col("n") * col("syy") - col("sy") * col("sy")
      x.crossJoin(broadcast(lags))
        .join(
          broadcast(y),
          col("ybkt") === col("xbkt") + col("lag") * BucketS)
        .groupBy(col("lag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("xs").cast(d18)).cast("double").as("sx"),
          sum(col("ys").cast(d18)).cast("double").as("sy"),
          sum(col("xs").cast(d20) * col("xs").cast(d18)).cast("double").as("sxx"),
          sum(col("ys").cast(d20) * col("ys").cast(d18)).cast("double").as("syy"),
          sum(col("xs").cast(d20) * col("ys").cast(d18)).cast("double").as("sxy"))
        .select(
          col("lag"),
          col("n"),
          when(
            col("n") > 1 && vxx > 0 && vyy > 0,
            floor(
              (col("n") * col("sxy") - col("sx") * col("sy")) /
                (sqrt(vxx) * sqrt(vyy)) * 1000000 + 0.5)
              .cast("long")).as("xcorr_e6"))
        .orderBy("lag")
    },

    // Autocorrelation function (ACF) of one series at lags 1..5 4-hour
    // buckets — q_ts_xcorr's reflexive sibling (series vs its own lagged
    // self): the seasonality/memory diagnostic behind ARIMA order
    // selection; a fault like short-cycling shows as a spike at the cycle
    // lag. Sample Pearson over (x_t, x_{t+lag}) pairs, same exact
    // milli-int bucket sums and DECIMAL-moment recipe as xcorr; same plan
    // shape — one bucket-aggregate exchange, then broadcasts only.
    Q(
      "q_ts_acf",
      """WITH b AS (
        |  SELECT CAST(floor(floor(epoch(ts)) / 14400) * 14400 AS BIGINT) AS bkt,
        |         sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS sm
        |  FROM events WHERE user_id = 1 GROUP BY 1),
        |l AS (SELECT unnest([1, 2, 3, 4, 5]) AS lag),
        |p AS (
        |  SELECT l.lag, x.sm AS xs, y.sm AS ys
        |  FROM l JOIN b x ON true JOIN b y ON y.bkt = x.bkt + l.lag * 14400),
        |m AS (
        |  SELECT lag, count(*) AS n,
        |    CAST(sum(CAST(xs AS DECIMAL(18,0))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(ys AS DECIMAL(18,0))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(xs AS DECIMAL(20,0)) * CAST(xs AS DECIMAL(18,0))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(ys AS DECIMAL(20,0)) * CAST(ys AS DECIMAL(18,0))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(xs AS DECIMAL(20,0)) * CAST(ys AS DECIMAL(18,0))) AS DOUBLE) AS sxy
        |  FROM p GROUP BY lag)
        |SELECT lag, n,
        |  CASE WHEN n > 1 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
        |    THEN CAST(floor((n * sxy - sx * sy) /
        |               (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) * 1000000 + 0.5) AS BIGINT)
        |  END AS acf_e6
        |FROM m ORDER BY lag""".stripMargin) { (s, d) =>
      import s.implicits._
      val BucketS = 14400
      val d18 = org.apache.spark.sql.types.DecimalType(18, 0)
      val d20 = org.apache.spark.sql.types.DecimalType(20, 0)
      val b = U.events(s, d)
        .filter(col("user_id") === 1)
        .groupBy(bucket(BucketS).as("bkt"))
        .agg(sum(floor(col("value") * 1000 + 0.5).cast("long")).as("sm"))
      val x = b.select(col("bkt").as("xbkt"), col("sm").as("xs"))
      val y = b.select(col("bkt").as("ybkt"), col("sm").as("ys"))
      val lags = Seq(1, 2, 3, 4, 5).toDF("lag")
      val vxx = col("n") * col("sxx") - col("sx") * col("sx")
      val vyy = col("n") * col("syy") - col("sy") * col("sy")
      x.crossJoin(broadcast(lags))
        .join(
          broadcast(y),
          col("ybkt") === col("xbkt") + col("lag") * BucketS)
        .groupBy(col("lag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("xs").cast(d18)).cast("double").as("sx"),
          sum(col("ys").cast(d18)).cast("double").as("sy"),
          sum(col("xs").cast(d20) * col("xs").cast(d18)).cast("double").as("sxx"),
          sum(col("ys").cast(d20) * col("ys").cast(d18)).cast("double").as("syy"),
          sum(col("xs").cast(d20) * col("ys").cast(d18)).cast("double").as("sxy"))
        .select(
          col("lag"),
          col("n"),
          when(
            col("n") > 1 && vxx > 0 && vyy > 0,
            floor(
              (col("n") * col("sxy") - col("sx") * col("sy")) /
                (sqrt(vxx) * sqrt(vyy)) * 1000000 + 0.5)
              .cast("long")).as("acf_e6"))
        .orderBy("lag")
    },

    // Distribution drift of the event-type mix between the older and newer
    // half of the time range — the data-mix monitor an LLM ingest pipeline
    // runs before each training snapshot ("did the crawl composition
    // shift?"). Per category: counts in each half, exact ppm shares, and
    // the cross-multiplied numerator |n_old·t_new − n_new·t_old| whose sum
    // over categories divided by the emitted drift_den = 2·t_old·t_new is
    // EXACTLY the total-variation distance — all integer arithmetic, no
    // float division anywhere, so the result is bit-stable across engines
    // and partitionings. (At trillion-row scale the cross products outgrow
    // BIGINT; the move is the same DECIMAL(20,0)x(18,0) widening q_ts_xcorr
    // uses.) Scale: the events fold into daily counts per category (one
    // partial-agg exchange, bounded by categories × days), which
    // [[mixDrift]] splits and totals — the events themselves shuffle nowhere.
    Q(
      "q_ts_drift",
      """WITH d AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        |  FROM events),
        |b AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM d),
        |t AS (
        |  SELECT event_type,
        |    count(*) FILTER (WHERE day < mid) AS n_old,
        |    count(*) FILTER (WHERE day >= mid) AS n_new
        |  FROM d, b GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(n_old) AS BIGINT) AS t_old,
        |         CAST(sum(n_new) AS BIGINT) AS t_new FROM t)
        |SELECT event_type, n_old, n_new,
        |  CASE WHEN t_old > 0 THEN n_old * 1000000 // t_old END AS ppm_old,
        |  CASE WHEN t_new > 0 THEN n_new * 1000000 // t_new END AS ppm_new,
        |  abs(n_old * t_new - n_new * t_old) AS drift_num,
        |  2 * t_old * t_new AS drift_den
        |FROM t, tot ORDER BY event_type""".stripMargin) { (s, d) =>
      mixDrift(
        U.events(s, d)
          .groupBy(
            col("event_type"),
            expr("CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT)").as("day"))
          .agg(count(lit(1)).as("n")),
        "event_type")
    },

    // Holt-Winters additive triple smoothing per series (level + trend +
    // period-6 seasonal; alpha = 0.5, beta = gamma = 0.25, all powers of
    // two): the seasonal completion of the EWMA → Holt progression and the
    // FOURTH instantiation of the secondary-sort fold kernel — the state
    // grows to (l, b, s[0..5]) yet stays O(1) per series. Value 0 seeds
    // the level (b = 0, s = 0); value t >= 1 updates seasonal slot t mod 6
    // (slot 0 therefore first updates at t = 6):
    //   l' = α·(v − s_old) + (1−α)·(l + b)
    //   b' = β·(l' − l) + (1−β)·b
    //   s[t mod 6] = γ·(v − l') + (1−γ)·s_old.
    // ORACLE'd since r12 the same way as q_ts_holt (whose scaladoc has the
    // full story): the (level, trend, seasonal[6]) recurrence rides a
    // recursive CTE with the six seasonal slots as plain columns — the
    // slot update is a CASE on (rn-1) % 6, and the in-place array write
    // the engine does becomes a column-preserving CASE in SQL. TsOpsSpec
    // keeps the driver-side fold replay as the in-process twin.
    Q("q_ts_holtwinters", HoltWintersOracleSql) { (s, d) =>
      import s.implicits._
      val alpha = 0.5
      val beta = 0.25
      val gamma = 0.25
      val m = 6
      def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      foldSeries[
        (Double, Double, Array[Double], Long),
        (Long, Long, Double, Double, Double, Double, Double, Double, Double,
          Double)](s, d)(
        seed = v => (v, 0.0, new Array[Double](m), 1L),
        step = { case ((l, b, sArr, t), v) =>
          val idx = (t % m).toInt
          val sOld = sArr(idx)
          val ln = alpha * (v - sOld) + (1 - alpha) * (l + b)
          val bn = beta * (ln - l) + (1 - beta) * b
          // in-place slot update is safe: the state tuple is threaded
          // linearly through the fold, never shared
          sArr(idx) = gamma * (v - ln) + (1 - gamma) * sOld
          (ln, bn, sArr, t + 1)
        },
        finish = (uid, n, st) =>
          (uid, n, r6(st._1), r6(st._2),
            r6(st._3(0)), r6(st._3(1)), r6(st._3(2)),
            r6(st._3(3)), r6(st._3(4)), r6(st._3(5))))
        .toDF("user_id", "n", "level", "trend", "s0", "s1", "s2", "s3", "s4",
          "s5")
        .orderBy("user_id")
    },

    // Theil-Sen robust trend per series: the median of pairwise slopes
    // (value-units per HOUR, micro-scaled), the estimator that shrugs off
    // the outliers OLS chases — the standard robust drift detector for
    // sensor/telemetry series. The CONTRACT query is the windowed form
    // every production deployment runs (Sen's estimator over each point's
    // TheilSenCap nearest successors): per-series cost O(n·K) instead of
    // the exact form's O(n²), so the query itself is 100x-safe — and the
    // plan is join-free: ONE series-key window exchange computes all K
    // leads, the slope explode is map-side, and the median groups on the
    // partitioning already in place. (The exact all-pairs form survives as
    // [[theilsenExact]], a ScalaTest twin: with K >= series length the two
    // are equal — TsOpsSpec pins that reduction.) Slope arithmetic is the
    // same IEEE sequence on both engines (exact sub/mul/div, then
    // floor(x·1e6+0.5) to BIGINT); the median interpolates two exact
    // integers — deterministic at any parallelism. Same-timestamp pairs
    // are excluded (strict ts_us <, no zero division); pair order is
    // pinned by (ts_us, event_id).
    Q(
      "q_ts_theilsen",
      s"""WITH d AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT a.user_id,
        |    CAST(floor((b.value - a.value) * 3600000000.0
        |      / (b.ts_us - a.ts_us) * 1000000 + 0.5) AS BIGINT) AS sm
        |  FROM d a JOIN d b
        |    ON a.user_id = b.user_id
        |    AND b.rn - a.rn BETWEEN 1 AND $TheilSenCap
        |    AND a.ts_us < b.ts_us),
        |r AS (
        |  SELECT user_id, sm,
        |    row_number() OVER (PARTITION BY user_id ORDER BY sm) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS m
        |  FROM p)
        |SELECT user_id, max(m) AS n_pairs,
        |  CAST(sum(sm) AS DOUBLE) / count(*) AS slope_med_micro
        |FROM r WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      theilsen(s, d, TheilSenCap)
    },

    // LTTB downsampling (Largest-Triangle-Three-Buckets, Steinarsson
    // 2013) — the perceptual line-chart downsampler: keep first and last
    // points; split the interior into m-2 buckets; from each bucket keep
    // the point forming the largest triangle with the PREVIOUSLY SELECTED
    // point and the next bucket's average. The sequential dependency
    // (selection k needs selection k-1) makes this a per-series streaming
    // pass, not a window: [[lttb]] extends the secondary-sort kernel with
    // one-bucket lookahead, so state is O(n/m) points — never the series.
    // ORACLE'd since r12 via [[LttbOracleSql]]: the selection recurrence
    // unrolls into the operator's constant m-2 = 10 chained argmax CTEs
    // (SQL forbids per-series aggregation inside a recursive CTE, so
    // unrolling — the PageRank trick — is the expressible form), each
    // repeating the kernel's pinned IEEE area/average tree. TsOpsSpec
    // keeps the driver-side IEEE replay and the structural invariants.
    Q("q_ts_downsample_lttb", LttbOracleSql) { (s, d) => lttb(s, d, 12) },

    // Min-max downsampling for visualization (the M4 aggregation of
    // Jugel et al., VLDB 2014, minus the first/last columns OHLC already
    // covers): per series and day bucket, keep the extreme points — the
    // two rows a pixel-width bucket must retain for a line chart to render
    // every spike exactly. Ties (equal values) break to the earliest
    // (ts, event_id), so the result is deterministic row-for-row. Scale:
    // ONE series-key window shuffle (both row_numbers and the final
    // filter ride it — same partitioning); emits 2 rows per (series,
    // bucket) no matter how dense the raw data, which is the point.
    Q(
      "q_ts_downsample_minmax",
      """WITH t AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_id, value,
        |    CAST(floor(floor(epoch(ts)) / 86400) * 86400 AS BIGINT) AS bkt
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY user_id, bkt
        |      ORDER BY value ASC, ts_us, event_id) AS rn_min,
        |    row_number() OVER (PARTITION BY user_id, bkt
        |      ORDER BY value DESC, ts_us, event_id) AS rn_max
        |  FROM t)
        |SELECT user_id, bkt, 'max' AS kind, ts_us, value FROM r WHERE rn_max = 1
        |UNION ALL
        |SELECT user_id, bkt, 'min' AS kind, ts_us, value FROM r WHERE rn_min = 1
        |ORDER BY user_id, bkt, kind""".stripMargin) { (s, d) =>
      val t = U.events(s, d).select(
        col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id"),
        col("value"),
        bucket(86400).as("bkt"))
      val wb = Window.partitionBy(col("user_id"), col("bkt"))
      val r = t.select(
        col("user_id"),
        col("bkt"),
        col("ts_us"),
        col("value"),
        row_number()
          .over(wb.orderBy(col("value").asc, col("ts_us"), col("event_id")))
          .as("rn_min"),
        row_number()
          .over(wb.orderBy(col("value").desc, col("ts_us"), col("event_id")))
          .as("rn_max"))
      r.filter(col("rn_max") === 1)
        .select(col("user_id"), col("bkt"), lit("max").as("kind"),
          col("ts_us"), col("value"))
        .unionAll(r.filter(col("rn_min") === 1)
          .select(col("user_id"), col("bkt"), lit("min").as("kind"),
            col("ts_us"), col("value")))
        .orderBy("user_id", "bkt", "kind")
    },

    // SAX (Symbolic Aggregate approXimation, Lin/Keogh 2003): z-normalize
    // each series, PAA-compress to 8 segments, map each segment mean to
    // one of 4 symbols at the Gaussian equiprobable breakpoints ±0.6745/0
    // — the series becomes an 8-char word, the representation motif
    // discovery, TS indexing, and cheap whole-series similarity run on.
    // Determinism: mean/std come from order-independent DECIMAL sums; the
    // per-row z-score is micro-floored to BIGINT so segment sums are exact
    // integers; symbol cuts compare that integer against breakpoint·cnt
    // (one float product, same on both engines); a zero-variance series
    // pins z = 0. Scale: ONE exchange on the series key feeds the window
    // stats, the segment aggregate, and the word assembly (all partition
    // by user_id — the sort rides the same shuffle).
    Q(
      "q_ts_sax",
      """WITH w AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id) AS DOUBLE) AS sv,
        |    CAST(sum(CAST(value * value AS DECIMAL(18,6))) OVER (PARTITION BY user_id) AS DOUBLE) AS sv2
        |  FROM events),
        |z AS (
        |  SELECT user_id, n,
        |    CASE WHEN sv2 / n - (sv / n) * (sv / n) > 0
        |      THEN CAST(floor((value - sv / n)
        |        / sqrt(sv2 / n - (sv / n) * (sv / n)) * 1000000 + 0.5) AS BIGINT)
        |      ELSE 0 END AS zm,
        |    ((rn - 1) * 8) // n AS seg
        |  FROM w),
        |g AS (SELECT user_id, seg, sum(zm) AS szm, count(*) AS cnt FROM z GROUP BY 1, 2),
        |sym AS (
        |  SELECT user_id, seg,
        |    CASE WHEN szm < -674500.0 * cnt THEN 'a'
        |         WHEN szm < 0 THEN 'b'
        |         WHEN szm < 674500.0 * cnt THEN 'c'
        |         ELSE 'd' END AS s
        |  FROM g)
        |SELECT user_id, string_agg(s, '' ORDER BY seg) AS sax
        |FROM sym GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
      val ordered = byUser.orderBy(col("ts"), col("event_id"))
      val w = U.events(s, d).select(
        col("user_id"),
        col("value"),
        row_number().over(ordered).as("rn"),
        count(lit(1)).over(byUser).as("n"),
        sum(col("value").cast(U.Dec)).over(byUser).cast("double").as("sv"),
        sum((col("value") * col("value")).cast(U.Dec)).over(byUser)
          .cast("double").as("sv2"))
      val varz = col("sv2") / col("n") - (col("sv") / col("n")) * (col("sv") / col("n"))
      val z = w.select(
        col("user_id"),
        when(varz > 0,
          floor((col("value") - col("sv") / col("n"))
            / sqrt(varz) * 1000000 + 0.5).cast("long"))
          .otherwise(0L).as("zm"),
        expr("((rn - 1) * 8) div n").as("seg"))
      z.groupBy(col("user_id"), col("seg"))
        .agg(sum(col("zm")).as("szm"), count(lit(1)).as("cnt"))
        .select(
          col("user_id"),
          col("seg"),
          when(col("szm") < lit(-674500.0) * col("cnt"), "a")
            .when(col("szm") < 0, "b")
            .when(col("szm") < lit(674500.0) * col("cnt"), "c")
            .otherwise("d").as("s"))
        .groupBy(col("user_id"))
        .agg(
          array_join(
            transform(
              array_sort(collect_list(struct(col("seg"), col("s")))),
              x => x.getField("s")),
            "").as("sax"))
        .orderBy("user_id")
    }
  )

  /** LTTB kernel (`q_ts_downsample_lttb`): secondary-sort per series, then
    * one streaming pass with ONE-BUCKET lookahead — the only state is the
    * current bucket, the next bucket, and the last selected point, so a
    * year-long series costs O(n/m) heap, not O(n). Series with n <= m pass
    * through unchanged. All arithmetic is pinned IEEE (left-to-right
    * bucket-average sums, one fixed cross-product form for the triangle
    * area, strict `>` so ties keep the EARLIEST point) so the TsOpsSpec
    * driver replay reproduces every selection bit for bit.
    *
    * Output: (user_id, sel_rank, ts_us, value) — sel_rank 0 is the first
    * point, m-1 (or n-1 when n <= m) the last.
    */
  def lttb(s: SparkSession, d: String, m: Int): DataFrame = {
    import s.implicits._
    require(m >= 3, "lttb needs at least first + one bucket + last")
    val ev = U.events(s, d)
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id"),
        col("value"))
    val counts = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    ev.join(counts, "user_id")
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "ts_us", "event_id")
      .select(col("user_id"), col("ts_us"), col("value"), col("n"))
      .as[(Long, Long, Double, Long)]
      .mapPartitions { raw =>
        val it = raw.buffered
        new Iterator[Seq[(Long, Long, Long, Double)]] {
          def hasNext: Boolean = it.hasNext
          def next(): Seq[(Long, Long, Long, Double)] = {
            val uid = it.head._1
            val n = it.head._4
            def sHasNext = it.hasNext && it.head._1 == uid
            // hasNext BEFORE every next: Spark's codegen row iterator only
            // refills its batch buffer in hasNext, so a bare next() mid
            // batch throws; the guard also fails loudly if the bucket
            // accounting ever disagrees with the joined-in n
            def sNext(): (Long, Double) = {
              require(sHasNext, s"series $uid exhausted before its n rows")
              val r = it.next(); (r._2, r._3)
            }
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Long, Long, Double)]
            if (n <= m) {
              var r = 0L
              while (sHasNext) { val p = sNext(); out += ((uid, r, p._1, p._2)); r += 1 }
            } else {
              val buckets = m - 2
              val ni = n - 2
              var prev = sNext()
              out += ((uid, 0L, prev._1, prev._2))
              var j = 0L
              def readBucket(k: Int): Array[(Long, Double)] = {
                val end = (k.toLong + 1) * ni / buckets
                val b = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
                while (j < end) { b += sNext(); j += 1 }
                b.toArray
              }
              var cur = readBucket(0)
              var k = 0
              var last: (Long, Double) = null
              while (k < buckets) {
                val nxt: Array[(Long, Double)] =
                  if (k < buckets - 1) readBucket(k + 1)
                  else { last = sNext(); Array(last) }
                // anchor = next bucket's average, left-to-right sums
                var sx = 0.0; var sy = 0.0; var i = 0
                while (i < nxt.length) { sx += nxt(i)._1.toDouble; sy += nxt(i)._2; i += 1 }
                val ax = sx / nxt.length; val ay = sy / nxt.length
                // largest triangle vs (prev, anchor); strict > keeps the
                // earliest point on exact area ties
                var best = cur(0); var bestArea = -1.0; i = 0
                while (i < cur.length) {
                  val p = cur(i)
                  val area = math.abs(
                    (prev._1.toDouble - ax) * (p._2 - prev._2) -
                      (prev._1.toDouble - p._1.toDouble) * (ay - prev._2))
                  if (area > bestArea) { bestArea = area; best = p }
                  i += 1
                }
                out += ((uid, k + 1L, best._1, best._2))
                prev = best
                cur = nxt
                k += 1
              }
              out += ((uid, (m - 1).toLong, last._1, last._2))
            }
            out.toSeq
          }
        }.flatten
      }
      .toDF("user_id", "sel_rank", "ts_us", "value")
      .orderBy("user_id", "sel_rank")
  }
}
