package graft.ops

import graft.{Q, U}
import graft.faults.FaultRules
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.4 groups A (reference-parity core) and B (scan / projection /
  * filter), on the `events` table treated as telemetry: series key =
  * `user_id`, event time = `ts`, measurement = `value`.
  *
  * Group A reproduces the reference's entire query surface:
  *   - R2 series range scan (`rusty_timeseries/src/main.rs:119-139`)
  *   - R5 threshold fault flagging (`main.rs:384-406`)
  *   - R12 client-side fault count (`py_client.py:40-49`)
  *   - R3 flag write-back, as a pure recompute (`main.rs:106-117`)
  *   - R1 append ingest roundtrip (`main.rs:92-104`)
  *
  * Every filter here is a deterministic Catalyst-pushable predicate: the
  * equality + time-range predicate reaches the parquet scan as PushedFilters,
  * replacing the reference's O(N) deserialize-everything loop
  * (`main.rs:126-137`). At 100 TB the same query prunes on a
  * `date(ts)`-partitioned layout instead of scanning.
  */
object CoreOps {

  /** Fault threshold over events.value (range 0.03..327.53); the reference's
    * 0.95 scaled to this domain (main.rs:398).
    */
  private val Threshold = 250.0

  val qs: Seq[Q] = Seq(
    // R2: the flagship query — series equality + inclusive time range.
    Q(
      "q_select_by_id_range",
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
        |FROM events
        |WHERE user_id = 7
        |  AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-12 23:59:59'
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      // Filter in the file's physical encoding so both predicates reach the
      // parquet scan as PushedFilters (row-group pruning at scale) — see
      // U.eventsRaw/U.tsRangeUs.
      val startUs = java.time.LocalDateTime.parse("2024-01-05T00:00:00")
        .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L
      val endUs = java.time.LocalDateTime.parse("2024-01-12T23:59:59")
        .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L
      val raw = U.eventsRaw(s, d)
      raw
        .filter(col("user_id") === 7 && U.tsRangeUs(raw, startUs, endUs))
        .select(
          col("event_id"),
          U.tsUsCol(raw).as("ts_us"),
          col("user_id"),
          col("event_type"),
          col("value"),
          col("props"))
        .orderBy("event_id")
    },

    // R5: derive the fault flag (1 where over threshold, else null).
    Q(
      "q_fault_flag",
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
         |  CASE WHEN value > $Threshold THEN CAST(1 AS BIGINT) END AS fc1_flag
         |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      U.events(s, d)
        .select(
          col("event_id"),
          col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("value"),
          FaultRules.thresholdFlag(col("value"), Threshold).as("fc1_flag"))
        .orderBy("event_id")
    },

    // R12: count over-threshold rows per series.
    Q(
      "q_fault_count",
      s"""SELECT user_id, count(*) AS n_faults FROM events
         |WHERE value > $Threshold GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, d) =>
        U.events(s, d)
          .filter(col("value") > Threshold)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_faults"))
          .orderBy("user_id")
    },

    // R3 as recompute: fresh rule output merged over a prior flag.
    Q(
      "q_fault_update_recompute",
      s"""SELECT event_id,
         |  coalesce(
         |    CASE WHEN value > $Threshold THEN CAST(1 AS BIGINT) END,
         |    CASE WHEN CAST(json_extract_string(props, '$$.k') AS BIGINT) > 90
         |         THEN CAST(1 AS BIGINT) END) AS fc1_flag
         |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val prior =
        when(get_json_object(col("props"), "$.k").cast("long") > 90, lit(1L))
      U.events(s, d)
        .select(
          col("event_id"),
          FaultRules
            .mergeFlags(FaultRules.thresholdFlag(col("value"), Threshold), prior)
            .as("fc1_flag"))
        .orderBy("event_id")
    },

    // R5 generalized: rolling-deviation fault rule — value deviates from the
    // trailing 4-row mean by > 100 (FaultRules.rollingDeviationFlag; the
    // smoothed thresholding the reference's fixed rule gestures at).
    Q(
      "q_fault_rolling_dev",
      """SELECT event_id, user_id, value,
        |  CASE WHEN abs(value -
        |    CAST(sum(CAST(value AS DECIMAL(18,6)))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |  ) > 100 THEN CAST(1 AS BIGINT) END AS dev_flag
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      U.events(s, d)
        .select(
          col("event_id"),
          col("user_id"),
          col("value"),
          FaultRules
            .rollingDeviationFlag(
              col("user_id"), col("ts"), col("event_id"), col("value"),
              frameRows = 4, maxDev = 100)
            .as("dev_flag"))
        .orderBy("event_id")
    },

    // R1: append ingest then read back (count-level roundtrip check).
    Q(
      "q_ingest_roundtrip",
      "SELECT count(*) AS n FROM events") { (s, d) =>
      // fixed scratch path keyed by input dir + JVM, overwritten per run —
      // a fresh createTempDirectory per invocation would leak a copy of
      // events every Verify/Bench run, while a path shared across JVMs
      // would let a concurrent run overwrite this one mid-read
      val tmp = U.scratchDir("ingest_roundtrip", d)
      U.events(s, d).write.mode("overwrite").parquet(tmp)
      Tables.read(s, tmp).agg(count(lit(1)).as("n"))
    },

    // Source/sink format coverage beyond parquet (§2.3's "no CSV" gap, in
    // the direction a lakehouse actually needs): the same sample round
    // trips through CSV (text), JSON lines (text), and ORC (columnar), and
    // each format must reproduce the identical exact aggregates — count,
    // micro-int value sum, ts extremes. Doubles are micro-floored to BIGINT
    // BEFORE the write because CSV/JSON are TEXT formats: integers
    // round-trip exactly by construction, where
    // double→decimal-string→double would hinge on shortest-repr printing.
    // The oracle computes the same aggregates from the original table — so
    // a single lost or corrupted row in any format fails the gate.
    Q(
      "q_ingest_formats",
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sum_value_micro,
        |    CAST(min(epoch_us(ts)) AS BIGINT) AS min_ts_us,
        |    CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
        |  FROM events)
        |SELECT 'csv' AS format, n, sum_value_micro, min_ts_us, max_ts_us FROM a
        |UNION ALL
        |SELECT 'json', n, sum_value_micro, min_ts_us, max_ts_us FROM a
        |UNION ALL
        |SELECT 'orc', n, sum_value_micro, min_ts_us, max_ts_us FROM a
        |ORDER BY format""".stripMargin) { (s, d) =>
      val sample = U.events(s, d).select(
        col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        floor(col("value") * 1000000 + 0.5).cast("long").as("value_micro"))
      val base = U.scratchDir("ingest_formats", d)
      sample.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
      sample.write.mode("overwrite").json(s"$base/json")
      sample.write.mode("overwrite").orc(s"$base/orc")
      val schema = "user_id BIGINT, ts_us BIGINT, value_micro BIGINT"
      def agg(df: org.apache.spark.sql.DataFrame, fmt: String) =
        df.agg(
          count(lit(1)).as("n"),
          sum(col("value_micro")).as("sum_value_micro"),
          min(col("ts_us")).as("min_ts_us"),
          max(col("ts_us")).as("max_ts_us"))
          .select(lit(fmt).as("format"), col("n"), col("sum_value_micro"),
            col("min_ts_us"), col("max_ts_us"))
      agg(
        s.read.option("header", "true").schema(schema).csv(s"$base/csv"),
        "csv")
        .unionAll(agg(s.read.schema(schema).json(s"$base/json"), "json"))
        .unionAll(agg(s.read.orc(s"$base/orc"), "orc"))
        .orderBy("format")
    },

    // B: column pruning — ReadSchema at the parquet scan is 3 of 11 cols.
    Q(
      "q_scan_project",
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      U.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // B: compound AND/OR/IN/BETWEEN predicate, pushed to the scan.
    Q(
      "q_filter_complex",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
        |FROM lineitem
        |WHERE (l_returnflag IN ('A', 'R') OR l_linestatus = 'O')
        |  AND l_quantity BETWEEN 10 AND 40
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      U.lineitem(s, d)
        .filter(
          (col("l_returnflag").isin("A", "R") || col("l_linestatus") === "O") &&
            col("l_quantity").between(10, 40) &&
            col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate").isNotNull)
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          col("l_quantity"),
          col("l_returnflag"),
          col("l_linestatus"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // B: one-pass table profiling — per numeric column: row count, null
    // count, exact distinct count, min/max. ONE scan computes every
    // statistic (a single wide aggregate), then three projections of the
    // 1-row result unpivot it; at 100 TB this is the data-quality job that
    // runs after every ingest, and one-pass beats per-column scans 3:1.
    Q(
      "q_profile_table",
      """WITH a AS (SELECT count(*) AS n,
        |    count(event_id) AS nn_eid, count(DISTINCT event_id) AS nd_eid,
        |    CAST(min(event_id) AS DOUBLE) AS mn_eid, CAST(max(event_id) AS DOUBLE) AS mx_eid,
        |    count(user_id) AS nn_uid, count(DISTINCT user_id) AS nd_uid,
        |    CAST(min(user_id) AS DOUBLE) AS mn_uid, CAST(max(user_id) AS DOUBLE) AS mx_uid,
        |    count(value) AS nn_val, count(DISTINCT value) AS nd_val,
        |    min(value) AS mn_val, max(value) AS mx_val
        |  FROM events)
        |SELECT 'event_id' AS col_name, n, n - nn_eid AS n_null, nd_eid AS n_distinct, mn_eid AS min_v, mx_eid AS max_v FROM a
        |UNION ALL
        |SELECT 'user_id', n, n - nn_uid, nd_uid, mn_uid, mx_uid FROM a
        |UNION ALL
        |SELECT 'value', n, n - nn_val, nd_val, mn_val, mx_val FROM a
        |ORDER BY col_name""".stripMargin) { (s, d) =>
      val a = U.events(s, d)
        .agg(
          count(lit(1)).as("n"),
          count(col("event_id")).as("nn_eid"),
          countDistinct(col("event_id")).as("nd_eid"),
          min(col("event_id")).cast("double").as("mn_eid"),
          max(col("event_id")).cast("double").as("mx_eid"),
          count(col("user_id")).as("nn_uid"),
          countDistinct(col("user_id")).as("nd_uid"),
          min(col("user_id")).cast("double").as("mn_uid"),
          max(col("user_id")).cast("double").as("mx_uid"),
          count(col("value")).as("nn_val"),
          countDistinct(col("value")).as("nd_val"),
          min(col("value")).as("mn_val"),
          max(col("value")).as("mx_val"))
      def row(name: String, nn: String, nd: String, mn: String, mx: String) =
        a.select(
          lit(name).as("col_name"),
          col("n"),
          (col("n") - col(nn)).as("n_null"),
          col(nd).as("n_distinct"),
          col(mn).as("min_v"),
          col(mx).as("max_v"))
      row("event_id", "nn_eid", "nd_eid", "mn_eid", "mx_eid")
        .unionAll(row("user_id", "nn_uid", "nd_uid", "mn_uid", "mx_uid"))
        .unionAll(row("value", "nn_val", "nd_val", "mn_val", "mx_val"))
        .orderBy("col_name")
    },

    // B: stratified systematic sampling — every 20th row per event_type
    // stratum in deterministic (event_id) order. Unlike rand()-based
    // TABLESAMPLE this is reproducible across engines and runs, which is
    // what a training-data pipeline needs for audit/repro; cost is one
    // window shuffle by stratum (at 100 TB: sample AFTER pushdown filters,
    // so the window sees only surviving rows).
    Q(
      "q_sample_systematic",
      """WITH s AS (SELECT event_id, user_id, event_type, value,
        |  CAST(row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS BIGINT) AS rn
        |  FROM events)
        |SELECT event_id, user_id, event_type, value, rn
        |FROM s WHERE rn % 20 = 1 ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      U.events(s, d)
        .select(
          col("event_id"),
          col("user_id"),
          col("event_type"),
          col("value"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") % 20 === 1)
        .orderBy("event_id")
    },

    // B: data-quality expectations gate — one row per declared rule:
    // (rule_id, tbl, kind, n_checked, n_violations, pass). The validation
    // suite every ingest runs before data is admitted to a training mix
    // (the reference's only guard is a bounds check, main.rs:93-95; this is
    // that idea generalized to declarative rules). Scale shape: all rules
    // on one table share ONE wide partial-aggregated scan (r1+r2 on
    // lineitem; r3+r4 on orders, r6 with the count on customer — the FK
    // verdicts ride their table's scan as a left-outer null-key count,
    // nation is broadcast-size; orders→customer shuffles on the key like
    // any FK check must — at 100 TB that join rides the same bloom-pruned
    // shuffle as q_join_bloom). Each rule frame aggregates to ONE row, so
    // the final unions/crossJoins move a constant number of rows no matter
    // the corpus. Rules are crafted so both verdicts occur on the driver
    // data: r1/r7 fail with real violation counts, the rest pass —
    // a gate whose failing branch is never exercised is untested.
    Q(
      "q_quality_expectations",
      """WITH li AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |    count(*) - count(l_shipdate) AS v2 FROM lineitem),
        |  o AS (SELECT count(*) AS n, count(*) - count(DISTINCT o_orderkey) AS v4 FROM orders),
        |  ofk AS (SELECT CAST(count(*) AS BIGINT) AS v3 FROM orders o2
        |    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o2.o_custkey)),
        |  dc AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN n_chars IS DISTINCT FROM length(text) THEN 1 ELSE 0 END) AS BIGINT) AS v5 FROM documents),
        |  cu AS (SELECT count(*) AS n FROM customer),
        |  cfk AS (SELECT CAST(count(*) AS BIGINT) AS v6 FROM customer c2
        |    WHERE NOT EXISTS (SELECT 1 FROM nation nn WHERE nn.n_nationkey = c2.c_nationkey)),
        |  ev AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN value IS NULL OR isnan(value) OR value < 0 OR value > 99 THEN 1 ELSE 0 END) AS BIGINT) AS v7 FROM events)
        |SELECT 'r1_lineitem_qty_range' AS rule_id, 'lineitem' AS tbl, 'range' AS kind,
        |  n AS n_checked, v1 AS n_violations, v1 = 0 AS pass FROM li
        |UNION ALL SELECT 'r2_lineitem_shipdate_notnull', 'lineitem', 'not_null', n, v2, v2 = 0 FROM li
        |UNION ALL SELECT 'r3_orders_custkey_fk', 'orders', 'foreign_key', o.n, v3, v3 = 0 FROM o, ofk
        |UNION ALL SELECT 'r4_orders_orderkey_unique', 'orders', 'unique', n, v4, v4 = 0 FROM o
        |UNION ALL SELECT 'r5_documents_nchars_consistent', 'documents', 'consistency', n, v5, v5 = 0 FROM dc
        |UNION ALL SELECT 'r6_customer_nationkey_fk', 'customer', 'foreign_key', cu.n, v6, v6 = 0 FROM cu, cfk
        |UNION ALL SELECT 'r7_events_value_range', 'events', 'range', n, v7, v7 = 0 FROM ev
        |ORDER BY rule_id""".stripMargin) { (s, d) =>
      // every rule frame aggregates to ONE row and executes exactly ONCE:
      // the frames crossJoin into a single row (the 1-row scalar-subquery
      // pattern) and stack() unpivots it into the 7 rule rows. A
      // union-of-projections would re-execute each shared frame per rule
      // (measured: 2 lineitem scans) — at 100 TB that doubles the biggest
      // table's I/O for no new information.
      val li = U.lineitem(s, d).agg(
        count(lit(1)).as("n_li"),
        sum(when(col("l_quantity").isNull || col("l_quantity") < 1 ||
          col("l_quantity") > 45, 1L).otherwise(0L)).cast("long").as("v1"),
        (count(lit(1)) - count(col("l_shipdate"))).as("v2"))
      // r18: each FK rule rides ITS table's one scan instead of adding a
      // second — the anti-join count is the same integer as a left-outer
      // join against the (unique-keyed) parent with a null-key count, so
      // the orders rules (n, uniqueness, FK) share one orders pass and the
      // customer rules share one customer pass (before: 9 scans / 7
      // one-row frames, after: 7 scans / 5 frames, .explain'd). Join
      // strategy stays a stats decision exactly as the anti-join's was;
      // parent-key uniqueness (c_custkey, n_nationkey are PKs) is what
      // makes the outer join multiplicity-free.
      val o = U.orders(s, d)
        .join(
          U.customer(s, d).select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"),
          "left_outer")
        .agg(
          count(lit(1)).as("n_o"),
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v4"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L))
            .cast("long").as("v3"))
      val dc = U.documents(s, d).agg(
        count(lit(1)).as("n_dc"),
        sum(when(not(col("n_chars") <=> length(col("text"))), 1L)
          .otherwise(0L)).cast("long").as("v5"))
      val cu = U.customer(s, d)
        .join(
          broadcast(U.nation(s, d).select(col("n_nationkey"))),
          col("c_nationkey") === col("n_nationkey"),
          "left_outer")
        .agg(
          count(lit(1)).as("n_cu"),
          sum(when(col("n_nationkey").isNull, 1L).otherwise(0L))
            .cast("long").as("v6"))
      val ev = U.events(s, d).agg(
        count(lit(1)).as("n_ev"),
        sum(when(col("value").isNull || isnan(col("value")) ||
          col("value") < 0 || col("value") > 99, 1L).otherwise(0L))
          .cast("long").as("v7"))

      li.crossJoin(o).crossJoin(dc).crossJoin(cu).crossJoin(ev)
        .selectExpr(
          """stack(7,
            |  'r1_lineitem_qty_range', 'lineitem', 'range', n_li, v1,
            |  'r2_lineitem_shipdate_notnull', 'lineitem', 'not_null', n_li, v2,
            |  'r3_orders_custkey_fk', 'orders', 'foreign_key', n_o, v3,
            |  'r4_orders_orderkey_unique', 'orders', 'unique', n_o, v4,
            |  'r5_documents_nchars_consistent', 'documents', 'consistency', n_dc, v5,
            |  'r6_customer_nationkey_fk', 'customer', 'foreign_key', n_cu, v6,
            |  'r7_events_value_range', 'events', 'range', n_ev, v7
            |) AS (rule_id, tbl, kind, n_checked, n_violations)""".stripMargin)
        .withColumn("pass", col("n_violations") === 0L)
        .orderBy("rule_id")
    },

    // B: value-distribution drift monitor — per event_type, total-variation
    // distance (in ppm) between the first and second time-half's value
    // histograms. The dataset-shift check a recurring ingest runs between
    // crawl snapshots: q_ts_drift watches the type MIX shift, this watches
    // each type's VALUE distribution shift. All-integer math (bucket
    // counts -> floor-div ppm shares -> |diff| sum) so both engines agree
    // bit-for-bit — no KL/PSI logarithms, whose libm bits are
    // engine-dependent; TVD is the metric PRECISELY because it is rational.
    // Scale: one scan fans into a (type, bucket) partial-agg shuffle
    // (|types|x20 rows out); the midpoint rides a 1-row broadcast; the
    // window + final agg run on the tiny grouped frame.
    Q(
      "q_quality_drift",
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us, value FROM events),
        |  b AS (SELECT (min(us) + max(us) + 1) // 2 AS mid FROM e),
        |  g AS (SELECT event_type,
        |      CASE WHEN isnan(value) THEN 0
        |        ELSE GREATEST(LEAST(CAST(floor(value / 25) AS BIGINT), 19), 0)
        |      END AS bkt,
        |      CAST(sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
        |      CAST(sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS BIGINT) AS c_b
        |    FROM e, b GROUP BY 1, 2),
        |  p AS (SELECT event_type, c_a, c_b,
        |      CAST(sum(c_a) OVER (PARTITION BY event_type) AS BIGINT) AS n_a,
        |      CAST(sum(c_b) OVER (PARTITION BY event_type) AS BIGINT) AS n_b
        |    FROM g),
        |  q AS (SELECT event_type, n_a, n_b,
        |      COALESCE(c_a * 1000000 // NULLIF(n_a, 0), 0) AS p_a,
        |      COALESCE(c_b * 1000000 // NULLIF(n_b, 0), 0) AS p_b
        |    FROM p)
        |SELECT event_type, max(n_a) AS n_a, max(n_b) AS n_b,
        |  CAST(sum(abs(p_a - p_b)) AS BIGINT) // 2 AS tvd_ppm,
        |  (CAST(sum(abs(p_a - p_b)) AS BIGINT) // 2) > 100000 AS drifted
        |FROM q GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      driftTvd(
        U.events(s, d).select(
          col("event_type"),
          unix_micros(col("ts")).as("us"),
          col("value")))
    }
  )

  /** Core of q_quality_drift on a prepared (event_type, us, value) frame —
    * factored out so the spec can drive a crafted corpus through BOTH
    * verdicts (the registry data's halves are stationary, so the key alone
    * would never exercise drifted=true). Midpoint/ppm/floor-div conventions
    * identical to q_ts_drift's (trunc-div == floor-div on the positive
    * domain; guarded NULLIF for an empty half).
    */
  def driftTvd(ev: org.apache.spark.sql.DataFrame, thresholdPpm: Long = 100000L)
      : org.apache.spark.sql.DataFrame = {
    val b = ev.agg(expr("(min(us) + max(us) + 1) div 2").as("mid"))
    val g = ev.crossJoin(broadcast(b))
      .select(
        col("event_type"),
        // NaN pinned to bucket 0 EXPLICITLY on both sides: Spark's
        // floor(NaN).cast(long) silently yields 0 while DuckDB ERRORS on
        // the NaN->BIGINT cast — and NaN values are an anticipated shape
        // (q_quality_expectations r7 counts them). Same hazard class as
        // SimOps' documented NaN-cast guard.
        when(isnan(col("value")), lit(0L))
          .otherwise(greatest(least(floor(col("value") / 25), lit(19L)), lit(0L)))
          .as("bkt"),
        when(col("us") < col("mid"), 1L).otherwise(0L).as("is_a"))
      .groupBy(col("event_type"), col("bkt"))
      .agg(
        sum(col("is_a")).as("c_a"),
        sum(lit(1L) - col("is_a")).as("c_b"))
    val w = Window.partitionBy(col("event_type"))
    g.select(
        col("event_type"),
        col("c_a"),
        col("c_b"),
        sum(col("c_a")).over(w).as("n_a"),
        sum(col("c_b")).over(w).as("n_b"))
      .select(
        col("event_type"),
        col("n_a"),
        col("n_b"),
        coalesce(expr("c_a * 1000000 div nullif(n_a, 0)"), lit(0L)).as("p_a"),
        coalesce(expr("c_b * 1000000 div nullif(n_b, 0)"), lit(0L)).as("p_b"))
      .groupBy(col("event_type"))
      .agg(
        max(col("n_a")).as("n_a"),
        max(col("n_b")).as("n_b"),
        expr("sum(abs(p_a - p_b)) div 2").as("tvd_ppm"))
      .withColumn("drifted", col("tvd_ppm") > thresholdPpm)
      .orderBy("event_type")
  }
}
