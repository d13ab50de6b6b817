package graft.ops

import graft.{Q, U}
import graft.functions.CountMin
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** SURVEY.md §2.4 group D — aggregation. The reference's only aggregate is a
  * client-side threshold count (`py_client.py:40-49`); this group provides
  * the full server-side surface: multi-aggregate hash aggregation (TPC-H Q1
  * shape), exact and approximate distinct counting, and hierarchical
  * rollup/cube/grouping-sets.
  *
  * Scale notes: all of these hash-aggregate with map-side partial
  * aggregation, so the shuffle carries one row per (partition x group), not
  * per input row. `approx_count_distinct` (HLL++) is the 100 TB path where
  * exact distinct would shuffle every distinct key.
  */
object AggOps {

  private val revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))
  private val charge =
    col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))

  val qs: Seq[Q] = Seq(
    // TPC-H Q1 shape: partial+final hash aggregate, 8 aggregates per group.
    Q(
      "q_agg_hash",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_qty_micro,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_base_price_micro,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_disc_price_micro,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_charge_micro,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_price,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      U.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          U.dsumMicro(col("l_quantity")).as("sum_qty_micro"),
          U.dsumMicro(col("l_extendedprice")).as("sum_base_price_micro"),
          U.dsumMicro(revenue).as("sum_disc_price_micro"),
          U.dsumMicro(charge).as("sum_charge_micro"),
          round(U.davg(col("l_quantity")), 4).as("avg_qty"),
          round(U.davg(col("l_extendedprice")), 4).as("avg_price"),
          round(U.davg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Exact distinct counts per group (expand + two-phase aggregate).
    Q(
      "q_agg_distinct",
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, d) =>
        U.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag")
    },

    // HLL++ sketch distinct — the scale path; no exact oracle (driver
    // records a rows-only check), correctness bounded in ScalaTest instead.
    Q.noOracle("q_agg_approx_distinct") { (s, d) =>
      U.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },

    // Quantile sketch (Greenwald-Khanna via percentile_approx) — the scale
    // path where exact percentiles would need a full sort; accuracy bounded
    // against exact quantiles in ScalaTest, driver records rows-only.
    Q.noOracle("q_agg_approx_quantile") { (s, d) =>
      U.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("p50"),
          percentile_approx(col("l_extendedprice"), lit(0.95), lit(1000))
            .as("p95"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },

    // Hierarchical totals: rollup / cube / grouping sets.
    Q(
      "q_agg_rollup",
      """SELECT CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        |  l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_qty_micro,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
      (s, d) =>
        U.lineitem(s, d)
          .rollup(col("l_returnflag"), col("l_linestatus"))
          // grouping() is only resolvable inside the agg list of the
          // rollup/cube Aggregate itself, not in a downstream select.
          .agg(
            grouping(col("l_returnflag")).cast("long").as("g_flag"),
            grouping(col("l_linestatus")).cast("long").as("g_status"),
            U.dsumMicro(col("l_quantity")).as("sum_qty_micro"),
            count(lit(1)).as("n"))
          .select(
            col("g_flag"),
            col("g_status"),
            col("l_returnflag"),
            col("l_linestatus"),
            col("sum_qty_micro"),
            col("n"))
          .orderBy(
            col("g_flag"),
            col("g_status"),
            col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first)
    },
    Q(
      "q_agg_cube",
      """SELECT CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        |  l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_qty_micro,
        |  count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
      (s, d) =>
        U.lineitem(s, d)
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(
            grouping(col("l_returnflag")).cast("long").as("g_flag"),
            grouping(col("l_linestatus")).cast("long").as("g_status"),
            U.dsumMicro(col("l_quantity")).as("sum_qty_micro"),
            count(lit(1)).as("n"))
          .select(
            col("g_flag"),
            col("g_status"),
            col("l_returnflag"),
            col("l_linestatus"),
            col("sum_qty_micro"),
            col("n"))
          .orderBy(
            col("g_flag"),
            col("g_status"),
            col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first)
    },
    Q(
      "q_agg_gsets",
      """SELECT CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        |  l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_qty_micro,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
      (s, d) =>
        U.lineitem(s, d).createOrReplaceTempView("graft_lineitem_gs")
        s.sql(
          """SELECT CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
            |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
            |  l_returnflag, l_linestatus,
            |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_qty_micro,
            |  count(*) AS n
            |FROM graft_lineitem_gs
            |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
            |ORDER BY g_flag, g_status, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    },

    // Relational PIVOT: one row per user, one count column per event_type.
    // Spark's pivot() compiles to exactly the conditional aggregation the
    // oracle spells out — a single partial+final hash aggregate, no extra
    // shuffle vs a plain groupBy. Values are enumerated explicitly: with an
    // inferred value set Spark must run a separate distinct job first, and
    // the output schema would depend on the data (both wrong at 100 TB).
    Q(
      "q_pivot",
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS "view"
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      U.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        // pivot yields NULL (not 0) for a (user, type) with no rows; the
        // oracle's conditional count yields 0 — normalize to 0
        .select(
          col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("user_id")
    },

    // UNPIVOT (melt) — the inverse of q_pivot: wide numeric columns to
    // (key, col_name, val) rows. Map-side only (a Generate over each row),
    // no shuffle until the presentation sort; the relational reshaping
    // primitive feature-engineering pipelines use to normalize wide tables.
    Q(
      "q_unpivot",
      """SELECT l_orderkey, l_linenumber, col_name, val FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |  FROM lineitem WHERE l_orderkey % 50 = 0)
        |UNPIVOT (val FOR col_name IN (l_quantity, l_extendedprice, l_discount))
        |ORDER BY l_orderkey, l_linenumber, col_name""".stripMargin) { (s, d) =>
      U.lineitem(s, d)
        .filter(col("l_orderkey") % 50 === 0)
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          col("l_quantity"),
          col("l_extendedprice"),
          col("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "col_name",
          "val")
        .orderBy("l_orderkey", "l_linenumber", "col_name")
    },

    // TPC-H Q11 shape (important-stock cut re-expressed on the star we
    // have): revenue per nation, keeping only nations above a fixed
    // fraction of the GLOBAL total — the scalar-subquery pattern. Spark
    // plans the global total as a 1-row broadcast (cross join of an
    // aggregate), so the per-nation frame streams through one filter; no
    // second scan of the fact table.
    Q(
      "q_tpch_q11",
      """WITH nval AS (
        |  SELECT n_name,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS value
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY n_name)
        |SELECT n_name,
        |  CAST(CAST(value AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS value_micro
        |FROM nval
        |WHERE value > (SELECT CAST(sum(value) AS DECIMAL(28,6)) * CAST(0.05 AS DECIMAL(3,2)) FROM nval)
        |ORDER BY value_micro DESC, n_name""".stripMargin) { (s, d) =>
      // checkpoint the per-nation aggregate: it is consumed twice (probe
      // rows + the 5% threshold) and without materialization the 3-table
      // join re-executes for the 1-row scalar — the frame is 25 rows, the
      // recompute is the whole fact join (what DuckDB's materialized-CTE
      // semantics avoid by default)
      val nval = U.lineitem(s, d)
        .join(U.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(U.nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(U.Dec))
            .cast(U.Dec).as("value"))
        .transform(U.ckpt(_, "q_tpch_q11_nation_value"))
      val Dec28 = org.apache.spark.sql.types.DecimalType(28, 6)
      val frac = lit(BigDecimal("0.05"))
        .cast(org.apache.spark.sql.types.DecimalType(3, 2))
      val threshold = nval
        .agg((sum(col("value")).cast(Dec28) * frac).as("thr"))
      nval
        .crossJoin(broadcast(threshold))
        .filter(col("value") > col("thr"))
        .select(
          col("n_name"),
          (col("value").cast(org.apache.spark.sql.types.DecimalType(28, 6)) *
            1000000).cast("long").as("value_micro"))
        .orderBy(col("value_micro").desc, col("n_name"))
    },

    // Fixed-width histogram over a double measure: floor-bucket then count.
    // Pure double arithmetic (no decimal detours — floor(double/const) is
    // bit-identical across engines); one partial-aggregated shuffle keyed
    // by bucket, so cardinality is bounded by the bucket count at any SF.
    Q(
      "q_agg_histogram",
      """SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_val_micro
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      U.events(s, d)
        .groupBy(floor(col("value") / 25.0).cast("long").as("bucket"))
        .agg(
          count(lit(1)).as("n"),
          U.dsumMicro(col("value")).as("sum_val_micro"))
        .orderBy("bucket")
    },

    // Grouped mode (most frequent user per event_type), deterministic
    // tie-break on the smaller user_id: count-then-rank — two shuffles,
    // both partial-aggregated / bounded by group cardinality.
    Q(
      "q_agg_mode",
      """WITH c AS (SELECT event_type, user_id, count(*) AS n FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, n,
        |        CAST(row_number() OVER (PARTITION BY event_type ORDER BY n DESC, user_id) AS BIGINT) AS rn
        |      FROM c)
        |SELECT event_type, user_id AS mode_user, n FROM r WHERE rn = 1
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("n").desc, col("user_id"))
      U.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("user_id").as("mode_user"), col("n"))
        .orderBy("event_type")
    },

    // Exact interpolating percentiles per group. Values are milli-scaled to
    // integers first: with integer inputs and quarter fractions (exact
    // binary: 0.25/0.5/0.75), every term of the interpolation
    // lo + g*(hi - lo) is exactly representable, so BOTH engines produce
    // bit-identical doubles regardless of their internal formula order —
    // p95-style fractions would not survive this (0.95 is inexact in
    // binary, making formula association visible). Requires a per-group
    // sort, the honest cost of exact percentiles; the 100 TB path is
    // q_agg_approx_quantile (KLL/GK sketch, no sort).
    Q(
      "q_agg_percentile",
      """WITH v AS (SELECT event_type, CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm FROM events)
        |SELECT event_type, count(*) AS n,
        |  quantile_cont(vm, 0.25) AS p25,
        |  quantile_cont(vm, 0.50) AS p50,
        |  quantile_cont(vm, 0.75) AS p75
        |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      U.events(s, d)
        .select(
          col("event_type"),
          floor(col("value") * 1000 + 0.5).cast("long").as("vm"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          expr("percentile(vm, 0.25)").as("p25"),
          expr("percentile(vm, 0.50)").as("p50"),
          expr("percentile(vm, 0.75)").as("p75"))
        .orderBy("event_type")
    },

    // Set-valued aggregation: per series, the sorted distinct event types
    // joined to one string (emitted as a string, not an array — array
    // columns hash differently across parquet readers). collect_set is the
    // mergeable small-set aggregate; sorting makes it deterministic.
    Q(
      "q_agg_collect",
      """SELECT user_id,
        |  string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types,
        |  count(DISTINCT event_type) AS n_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      U.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          concat_ws(",", sort_array(collect_set(col("event_type")))).as("types"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy("user_id")
    },

    // Median absolute deviation per group — the robust dispersion measure
    // (outlier-insensitive, unlike stddev). Exact cross-engine because
    // every interpolation happens at fraction 0.5 (exactly representable)
    // over milli-scaled integers, so both medians are bit-identical
    // half-sums; |x - med| values are then exact k or k.5 doubles and the
    // second median is again exact. Two grouped sorts + one co-partitioned
    // join — the honest cost of exact order statistics (approx sketch:
    // q_agg_approx_quantile).
    Q(
      "q_agg_mad",
      """WITH v AS (SELECT event_type, CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm FROM events),
        |med AS (SELECT event_type, quantile_cont(vm, 0.5) AS med FROM v GROUP BY event_type)
        |SELECT v.event_type, count(*) AS n, max(med) AS med,
        |  quantile_cont(abs(v.vm - med), 0.5) AS mad
        |FROM v JOIN med ON v.event_type = med.event_type
        |GROUP BY v.event_type ORDER BY v.event_type""".stripMargin) { (s, d) =>
      val v = U.events(s, d)
        .select(
          col("event_type"),
          floor(col("value") * 1000 + 0.5).cast("long").as("vm"))
      val med = v
        .groupBy(col("event_type").as("m_type"))
        .agg(expr("percentile(vm, 0.5)").as("med"))
      v.join(med, col("event_type") === col("m_type"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          max(col("med")).as("med"),
          expr("percentile(abs(vm - med), 0.5)").as("mad"))
        .orderBy("event_type")
    },

    // Misra-Gries heavy hitters over corpus terms via the typed mergeable
    // Aggregator (functions/HeavyHitters): one pass, O(k) state per
    // partition, O(k) merge — the 100 TB frequent-items path where exact
    // counting would shuffle every distinct term. Sketch output depends on
    // merge order => no SQL oracle; FunctionsSpec asserts the MG guarantee
    // (every term with freq > n/(k+1) present, f - n/(k+1) <= est <= f)
    // against exact counts.
    Q.noOracle("q_agg_heavyhitters") { (s, d) =>
      import s.implicits._
      val terms = U.documents(s, d)
        .select(explode(split(trim(col("text")), "\\s+")).as("term"))
        .as[String]
      val mg = new graft.functions.HeavyHitters.MisraGries(100)
      terms
        .select(mg.toColumn) // typed select — Dataset[Map[term, est]]
        .toDF("hh")
        .select(explode(col("hh")))
        .toDF("term", "est")
        .orderBy(col("est").desc, col("term"))
    },

    // Two-stage salted aggregation (ops/Skew.saltedStats) exposed as a
    // contract key: the hot-key mitigation for aggregations AQE's skew
    // handling doesn't cover. The salt spreads each key over 16 reducers
    // in stage 1; stage 2 finishes per key. Same answer as the plain
    // group-by — the oracle IS the plain group-by — because every
    // aggregate here is algebraic (decimal sum + count).
    Q(
      "q_agg_salted",
      """SELECT user_id AS key,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_value_micro,
        |  count(*) AS n_rows
        |FROM events GROUP BY user_id ORDER BY key""".stripMargin) { (s, d) =>
      Skew
        .saltedStats(U.events(s, d), col("user_id"), col("value"))
        .select(
          col("key"),
          (col("sum_value_dec") * 1000000).cast("long").as("sum_value_micro"),
          col("n_rows"))
        .orderBy("key")
    },

    // Pearson correlation per group with EXACT moments: built-in corr()
    // accumulates IEEE doubles in partition order (non-deterministic across
    // engines AND across retries), so the five moments are exact DECIMAL
    // sums instead — order-independent — and only the final closed-form
    // formula runs in doubles, written identically in both engines so the
    // result is bit-identical. Same partial+final agg shape as any sum.
    Q(
      "q_agg_corr",
      // the (20,6)x(18,6) asymmetric product is deliberate: width > 18
      // forces DuckDB onto HUGEINT decimal storage (an 18x18 product
      // overflows its INT64 path at runtime), and 20+18 stays within both
      // engines' 38-digit cap so the moments are exact in BOTH
      """WITH m AS (SELECT l_returnflag,
        |    count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(20,6)) * CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6)) * CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(20,6)) * CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((n * sxy - sx * sy) /
        |        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qty_price
        |FROM m ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val x = col("l_quantity").cast(U.Dec)
      val y = col("l_extendedprice").cast(U.Dec)
      val x20 = col("l_quantity").cast(U.Dec20)
      val y20 = col("l_extendedprice").cast(U.Dec20)
      U.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"),
          sum(y).cast("double").as("sy"),
          sum(x20 * x).cast("double").as("sxx"),
          sum(y20 * y).cast("double").as("syy"),
          sum(x20 * y).cast("double").as("sxy"))
        .select(
          col("l_returnflag"),
          col("n"),
          round(
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))),
            6).as("corr_qty_price"))
        .orderBy("l_returnflag")
    },

    // Population skewness per group from exact first/second/third moments
    // (events.value is exactly 3-decimal, so the DECIMAL(12,3) cube chain
    // is exact in both engines: (12,3)² -> scale 6, ×(12,3) -> scale 9,
    // within the 38-digit cap). Only the closed-form finish runs in
    // doubles; the denominator is sqrt(v)*v, NOT pow(v,1.5) — pow is libm
    // (engine-dependent), sqrt is IEEE exactly-rounded.
    Q(
      "q_agg_skewness",
      """WITH m AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value AS DECIMAL(20,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(value AS DECIMAL(12,3)) * CAST(value AS DECIMAL(12,3)) * CAST(value AS DECIMAL(12,3))) AS DOUBLE) AS sxxx
        |  FROM events GROUP BY event_type)
        |SELECT event_type, n,
        |  round(sx / n, 6) AS mean,
        |  round(sxx / n - (sx / n) * (sx / n), 6) AS variance,
        |  round((sxxx / n - 3 * (sx / n) * (sxx / n) + 2 * (sx / n) * (sx / n) * (sx / n)) /
        |        (sqrt(sxx / n - (sx / n) * (sx / n)) * (sxx / n - (sx / n) * (sx / n))), 6) AS skewness
        |FROM m ORDER BY event_type""".stripMargin) { (s, d) =>
      val Dec123 = org.apache.spark.sql.types.DecimalType(12, 3)
      val v = col("value")
      val stats = U.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(v.cast(U.Dec)).cast("double").as("sx"),
          sum(v.cast(U.Dec20) * v.cast(U.Dec)).cast("double").as("sxx"),
          sum(v.cast(Dec123) * v.cast(Dec123) * v.cast(Dec123))
            .cast("double").as("sxxx"))
      val mu = col("sx") / col("n")
      val va = col("sxx") / col("n") - mu * mu
      stats
        .select(
          col("event_type"),
          col("n"),
          round(mu, 6).as("mean"),
          round(va, 6).as("variance"),
          round(
            (col("sxxx") / col("n") - lit(3) * mu * (col("sxx") / col("n")) +
              lit(2) * mu * mu * mu) / (sqrt(va) * va),
            6).as("skewness"))
        .orderBy("event_type")
    },

    // Excess kurtosis per group, same exact-moment discipline as skewness
    // one slot up: the 4th power chain squares the exact scale-6 square
    // (narrowed losslessly to DECIMAL(15,6) — values ≤ 1e4 — so the
    // (15,6)x(15,6) product stays inside both engines' 38-digit cap).
    // g2 = m4/σ⁴ - 3 with every moment an exact decimal sum; σ⁴ = v*v,
    // sqrt-free, so the only doubles are the identical closed-form trees.
    Q(
      "q_agg_kurtosis",
      """WITH m AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value AS DECIMAL(20,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(value AS DECIMAL(12,3)) * CAST(value AS DECIMAL(12,3)) * CAST(value AS DECIMAL(12,3))) AS DOUBLE) AS sxxx,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(12,3)) * CAST(value AS DECIMAL(12,3)) AS DECIMAL(20,6))
        |           * CAST(CAST(value AS DECIMAL(12,3)) * CAST(value AS DECIMAL(12,3)) AS DECIMAL(17,6))) AS DOUBLE) AS sxxxx
        |  FROM events GROUP BY event_type)
        |SELECT event_type, n,
        |  round((sxxxx / n - 4 * (sx / n) * (sxxx / n) + 6 * (sx / n) * (sx / n) * (sxx / n)
        |         - 3 * (sx / n) * (sx / n) * (sx / n) * (sx / n)) /
        |        ((sxx / n - (sx / n) * (sx / n)) * (sxx / n - (sx / n) * (sx / n))) - 3, 6) AS kurtosis
        |FROM m ORDER BY event_type""".stripMargin) { (s, d) =>
      val Dec123 = org.apache.spark.sql.types.DecimalType(12, 3)
      val Dec176 = org.apache.spark.sql.types.DecimalType(17, 6)
      val v = col("value")
      // asymmetric widths: >18 forces DuckDB's HUGEINT decimal path (an
      // 18x18-or-narrower product multiplies INT64s and overflows at
      // runtime — same trick as q_agg_corr), while 20+17 fits both caps
      val x2w = (v.cast(Dec123) * v.cast(Dec123)).cast(U.Dec20)
      // (17,6) is the widest narrow side Spark's cap allows next to (20,6)
      // (20+17+1 = 38, no precision-loss adjustment); it holds x^2 up to
      // ~1e11, i.e. |value| <= ~316k — far beyond the data's range, and an
      // out-of-range product would null out in Spark but ERROR in DuckDB,
      // so the gate catches it rather than silently diverging
      val x2 = (v.cast(Dec123) * v.cast(Dec123)).cast(Dec176)
      val stats = U.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(v.cast(U.Dec)).cast("double").as("sx"),
          sum(v.cast(U.Dec20) * v.cast(U.Dec)).cast("double").as("sxx"),
          sum(v.cast(Dec123) * v.cast(Dec123) * v.cast(Dec123))
            .cast("double").as("sxxx"),
          sum(x2w * x2).cast("double").as("sxxxx"))
      val mu = col("sx") / col("n")
      val va = col("sxx") / col("n") - mu * mu
      stats
        .select(
          col("event_type"),
          col("n"),
          round(
            (col("sxxxx") / col("n") - lit(4) * mu * (col("sxxx") / col("n")) +
              lit(6) * mu * mu * (col("sxx") / col("n")) -
              lit(3) * mu * mu * mu * mu) / (va * va) - 3,
            6).as("kurtosis"))
        .orderBy("event_type")
    },

    // Incremental materialized-view refresh: a daily per-user rollup
    // maintained as MERGEABLE partial aggregates. The "materialized" base
    // (90% of events) and the delta batch (10%) are each pre-aggregated,
    // then combined by SUMMING the partials — count is sum-mergeable and
    // the value sum is exact DECIMAL (order-independent), so
    // merge(agg(base), agg(delta)) == agg(base ∪ delta) EXACTLY, which is
    // the property incremental view maintenance rests on. The oracle is the
    // full recompute. At 100 TB the delta re-agg touches only new
    // partitions; the base rollup (one row per user-day) never rescans.
    Q(
      "q_mv_incremental",
      """SELECT user_id,
        |  CAST(floor(floor(epoch(ts)) / 86400) * 86400 AS BIGINT) AS day,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_val_micro
        |FROM events GROUP BY user_id, day ORDER BY user_id, day""".stripMargin) {
      (s, d) =>
        val day = (floor(unix_timestamp(col("ts")) / 86400) * 86400).cast("long")
        def partial(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("user_id"), day.as("day"))
            .agg(
              count(lit(1)).as("pn"),
              sum(col("value").cast(U.Dec)).as("psum"))
        val base = partial(U.events(s, d).filter(col("event_id") % 10 =!= 9))
        val delta = partial(U.events(s, d).filter(col("event_id") % 10 === 9))
        base
          .unionAll(delta)
          .groupBy(col("user_id"), col("day"))
          .agg(
            sum(col("pn")).as("n"),
            (sum(col("psum")) * 1000000).cast("long").as("sum_val_micro"))
          .orderBy("user_id", "day")
    },

    // Mergeable-sketch distinct counting — the property COUNT(DISTINCT)
    // lacks: distinct-count partials are not sum-mergeable, so an
    // incremental distinct MV at 100 TB needs a mergeable sketch. Daily
    // Datasketches-HLL partials over the user key union-merge to the
    // whole-range estimate; the direct whole-range sketch is computed
    // alongside so the output itself witnesses the merge. In the coupon
    // regime (LIST/SET mode, the sketch still exact) merge == direct
    // literally; once a group promotes to dense HLL the direct sketch's
    // HIP estimator and the union's composite estimator legitimately
    // differ by O(rse) — both stay within the sketch error bound of the
    // true distinct (PropertyChecks verifies per regime). At scale the
    // daily partials are the stored MV: a new day appends one sketch row
    // per group and the range query re-unions sketches, never rescans
    // events. no_oracle: DuckDB's approx_distinct is a different sketch
    // family; FunctionsSpec pins both regimes against exact distinct.
    Q.noOracle("q_agg_hll_mv") { (s, d) =>
      val day = (floor(unix_timestamp(col("ts")) / 86400) * 86400).cast("long")
      val daily = U.events(s, d)
        .groupBy(col("event_type"), day.as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sketch"))
      val merged = daily
        .groupBy(col("event_type"))
        .agg(
          hll_sketch_estimate(hll_union_agg(col("sketch"))).as("merged_est"),
          count(lit(1)).as("n_days"))
      val direct = U.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("direct_est"))
      merged
        .join(direct, "event_type")
        .select(
          col("event_type"),
          col("merged_est"),
          col("direct_est"),
          col("n_days"))
        .orderBy("event_type")
    },

    // Bitmap exact-distinct — the bounded-domain counterpart to the HLL
    // sketch above (roaring-bitmap family, flattened to 63-bit words as
    // plain columns): each (group, id div 63) word ORs bit (id mod 63),
    // the distinct count is the popcount sum. bit_or partials merge
    // associatively like any sum, so this is EXACT distinct counting with
    // sum-mergeable partials — the thing COUNT(DISTINCT)'s expand-dedup
    // plan pays two shuffles for — whenever the id domain is bounded
    // (users, devices, SKUs). 63-bit words, not 64: DuckDB raises on
    // 1<<63 signed overflow where Java wraps; bit 62 is the last safe one
    // shared by both engines. NON-NEGATIVE ids only, enforced by filter in
    // BOTH engines (a bitmap index has no slot for a negative id; without
    // the filter DuckDB raises on a negative shift where Spark masks it to
    // a silently-colliding bit — divergence, not just error). Output
    // carries count(DISTINCT) alongside as the self-witness.
    Q(
      "q_agg_bitmap_distinct",
      """WITH nn AS (SELECT event_type, user_id FROM events WHERE user_id >= 0),
        |w AS (
        |  SELECT event_type, user_id // 63 AS word,
        |    bit_or(1::BIGINT << CAST(user_id % 63 AS INTEGER)) AS bits
        |  FROM nn GROUP BY 1, 2),
        |bm AS (
        |  SELECT event_type, CAST(sum(bit_count(bits)) AS BIGINT) AS n_users_bitmap
        |  FROM w GROUP BY 1),
        |ex AS (
        |  SELECT event_type, count(DISTINCT user_id) AS n_users_exact
        |  FROM nn GROUP BY 1)
        |SELECT event_type, n_users_bitmap, n_users_exact
        |FROM bm JOIN ex USING (event_type)
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      val ev = U.events(s, d).filter(col("user_id") >= 0)
      val bm = ev
        .groupBy(col("event_type"), expr("user_id div 63").as("word"))
        .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))"))
          .as("bits"))
        .groupBy(col("event_type"))
        .agg(sum(bit_count(col("bits"))).as("n_users_bitmap"))
      val ex = ev
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users_exact"))
      bm.join(ex, "event_type")
        .select(
          col("event_type"),
          col("n_users_bitmap"),
          col("n_users_exact"))
        .orderBy("event_type")
    },

    // EXACT-distinct MV — the q_agg_hll_mv story with zero error: daily
    // (group, day, word, bits) bitmap partials are the STORED artifact
    // (written to parquet and read back, the real MV path), and a range
    // query re-merges them with bit_or — associative, order-independent,
    // and EXACT, unlike the HLL sketch's ±rsd. This is the
    // incremental-refresh distinct-count shape for bounded integer id
    // domains (users, devices, SKUs): a new day appends its word rows;
    // the re-merge reads (groups × days × words) integer rows, never raw
    // events. Every stored value is a deterministic BIGINT, so unlike the
    // KLL/HLL MVs this one IS oracle-checkable: DuckDB computes the same
    // partials and merge inline.
    Q(
      "q_agg_bitmap_mv",
      """WITH nn AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, user_id
        |  FROM events WHERE user_id >= 0),
        |w AS (
        |  SELECT event_type, day, user_id // 63 AS word,
        |    bit_or(1::BIGINT << CAST(user_id % 63 AS INTEGER)) AS bits
        |  FROM nn GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT event_type, word, bit_or(bits) AS bits,
        |    count(*) AS n_partials
        |  FROM w GROUP BY 1, 2)
        |SELECT event_type,
        |  CAST(sum(bit_count(bits)) AS BIGINT) AS n_users_mv,
        |  CAST(sum(n_partials) AS BIGINT) AS n_stored_rows
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val daily = U.events(s, d)
        .filter(col("user_id") >= 0)
        .groupBy(
          col("event_type"),
          col("ts").cast("date").as("day"),
          expr("user_id div 63").as("word"))
        .agg(bit_or(
          expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))"))
          .as("bits"))
      // the stored MV: daily word rows round-trip through parquet (scratch
      // keyed by input dir + JVM, overwritten per run — same discipline as
      // q_ingest_roundtrip; see U.scratchDir)
      val tmp = U.scratchDir("bitmap_mv", d)
      daily.write.mode("overwrite").parquet(tmp)
      Tables.read(s, tmp)
        .groupBy(col("event_type"), col("word"))
        .agg(bit_or(col("bits")).as("bits"), count(lit(1)).as("n_partials"))
        .groupBy(col("event_type"))
        .agg(
          sum(bit_count(col("bits"))).as("n_users_mv"),
          sum(col("n_partials")).as("n_stored_rows"))
        .orderBy("event_type")
    },

    // Mergeable QUANTILE-sketch MV — the q_agg_hll_mv story for
    // percentiles, and the single most common monitoring query shape the
    // reference's periodic scan implies (p99-per-series-per-day,
    // re-aggregated over a week): percentile_approx's internal buffer is
    // not exposed as a storable column, so without a mergeable sketch an
    // incremental percentile MV at 100 TB rescans raw events per range
    // query. Daily KLL partials per event_type are the stored MV (binary
    // sketch rows; KLL merge is associative with bounded rank error, Karnin
    // Lang Liberty 2016); a range query union-merges the daily sketches and
    // reads quantiles off the merged sketch — a new day appends one sketch
    // row per group, the range re-merge never rescans events. The direct
    // whole-range sketch is computed alongside so the output witnesses
    // the merge. k = 16384 keeps sketches in exact (uncompacted) mode up
    // to k values per group — there merged == direct == the exact order
    // statistic, deterministically (FunctionsSpec pins this, plus the
    // parquet round-trip of the stored sketch rows). Past k values
    // (sf0.1's ~20k rows/group and beyond) the sketch compacts into its
    // rank-error regime (~0.04% at this k) and compaction is RANDOMIZED —
    // merged and direct legitimately diverge within the bound, which is
    // exactly why this key is no_oracle: PropertyChecks asserts the
    // regime-appropriate contract (bit-equality when uncompacted, exact
    // rank brackets when compacted) at whatever scale Verify runs.
    Q.noOracle("q_agg_kll_mv") { (s, d) =>
      val day = (floor(unix_timestamp(col("ts")) / 86400) * 86400).cast("long")
      val k = U.KllK
      val daily = U.events(s, d)
        .groupBy(col("event_type"), day.as("day"))
        .agg(kll_sketch_agg_double(col("value"), k).as("sketch"))
      val merged = daily
        .groupBy(col("event_type"))
        .agg(
          kll_merge_agg_double(col("sketch"), k).as("msk"),
          count(lit(1)).as("n_days"))
        .select(
          col("event_type"),
          kll_sketch_get_n_double(col("msk")).as("n"),
          kll_sketch_get_quantile_double(col("msk"), lit(0.5)).as("p50_merged"),
          kll_sketch_get_quantile_double(col("msk"), lit(0.95)).as("p95_merged"),
          kll_sketch_get_quantile_double(col("msk"), lit(0.99)).as("p99_merged"),
          col("n_days"))
      val direct = U.events(s, d)
        .groupBy(col("event_type"))
        .agg(kll_sketch_agg_double(col("value"), k).as("dsk"))
        .select(
          col("event_type"),
          kll_sketch_get_quantile_double(col("dsk"), lit(0.5)).as("p50_direct"),
          kll_sketch_get_quantile_double(col("dsk"), lit(0.99)).as("p99_direct"))
      merged
        .join(direct, "event_type")
        .select(
          col("event_type"),
          col("n"),
          col("p50_merged"),
          col("p95_merged"),
          col("p99_merged"),
          col("p50_direct"),
          col("p99_direct"),
          col("n_days"))
        .orderBy("event_type")
    },

    // Mergeable FREQUENCY-sketch MV (Count-Min, Cormode & Muthukrishnan
    // 2005) — the third leg of the sketch-MV family: HLL answers "how many
    // distinct", KLL answers "what quantile", CM answers "how often does
    // THIS key occur" in fixed space. Daily depth×width = 4×512 count
    // partials over per-user event occurrences are the stored parquet MV;
    // cells merge across days by plain addition (each cell is an
    // independent sum), so a range query re-adds 2048-bounded cell rows
    // and never rescans events. A probe set (every 10th user) reads
    // est = min over the 4 rows of its hashed cells; the exact count is
    // computed alongside so every output row witnesses the one-sided CM
    // guarantee est >= exact. Unlike HLL/KLL, every stored value is a
    // deterministic BIGINT — the row hash is the md5-prefix bucket both
    // engines compute identically (see q_text_dsir / Md5Prefix64) — so
    // this sketch MV IS oracle-checkable inline. Scale: the sketch is
    // depth×width-bounded regardless of corpus size; the hashed explode
    // is map-side (×4 rows, integers only, no text/payload) and
    // partial-aggregates before its exchange; probes touch 4 cells each
    // against a broadcast 2048-row merged table.
    Q(
      "q_agg_cm_mv",
      s"""WITH nn AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day
        |  FROM events WHERE user_id >= 0),
        |h AS (
        |  SELECT day, ds.dep AS dep,
        |    ${CountMin.bucketSql("ds.dep", "CAST(user_id AS VARCHAR)")} AS bkt
        |  FROM nn CROSS JOIN ${CountMin.depsSql} ds),
        |daily AS (SELECT day, dep, bkt, count(*) AS cnt FROM h GROUP BY 1, 2, 3),
        |m AS (SELECT dep, bkt, CAST(sum(cnt) AS BIGINT) AS cell FROM daily GROUP BY 1, 2),
        |p AS (SELECT DISTINCT user_id FROM nn WHERE user_id % 10 = 0),
        |ph AS (
        |  SELECT user_id, ds.dep AS dep,
        |    ${CountMin.bucketSql("ds.dep", "CAST(user_id AS VARCHAR)")} AS bkt
        |  FROM p CROSS JOIN ${CountMin.depsSql} ds),
        |est AS (
        |  SELECT user_id, CAST(min(cell) AS BIGINT) AS cm_est
        |  FROM ph JOIN m USING (dep, bkt) GROUP BY 1),
        |ex AS (
        |  SELECT user_id, count(*) AS n_exact
        |  FROM nn WHERE user_id % 10 = 0 GROUP BY 1)
        |SELECT user_id, cm_est, n_exact
        |FROM est JOIN ex USING (user_id) ORDER BY user_id""".stripMargin) {
      (s, d) =>
        val bucket = CountMin.bucket(col("dep"), col("user_id").cast("string"))
        val nn = U.events(s, d)
          .filter(col("user_id") >= 0)
          .select(col("user_id"), col("ts").cast("date").as("day"))
        val daily = nn
          .withColumn("dep", CountMin.deps)
          .groupBy(col("day"), col("dep"), bucket.as("bkt"))
          .agg(count(lit(1)).as("cnt"))
        // the stored MV: daily cell rows round-trip through parquet (same
        // scratch discipline as q_agg_bitmap_mv)
        val tmp = U.scratchDir("cm_mv", d)
        daily.write.mode("overwrite").parquet(tmp)
        val merged = Tables.read(s, tmp)
          .groupBy(col("dep"), col("bkt"))
          .agg(sum(col("cnt")).as("cell"))
        val probes = nn
          .filter(col("user_id") % 10 === 0)
          .select(col("user_id"))
          .distinct()
          .withColumn("dep", CountMin.deps)
          .withColumn("bkt", bucket)
        val est = probes
          .join(broadcast(merged), Seq("dep", "bkt"))
          .groupBy(col("user_id"))
          .agg(min(col("cell")).as("cm_est"))
        val exact = nn
          .filter(col("user_id") % 10 === 0)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_exact"))
        est
          .join(exact, "user_id")
          .select(col("user_id"), col("cm_est"), col("n_exact"))
          .orderBy("user_id")
    }
  )
}
