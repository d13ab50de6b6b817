package graft.ops

import graft.{Q, U}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.4 group C — joins. The reference has no joins at all (single
  * table; the dead `TimeseriesReference` catalog struct at
  * `rusty_timeseries/src/main.rs:32-36` is the only hint of a second one);
  * this group realizes that intent with every standard join shape.
  *
  * Scale notes (100 TB): dimension joins are explicitly `broadcast()` so no
  * shuffle of the fact side ever happens; the large equi join shuffles both
  * sides on the join key once (sort-merge, AQE-coalesced); the as-of join is
  * implemented as a single window pass over a union — NOT a join — so it
  * costs one shuffle by series key instead of a per-row range probe.
  */
object JoinOps {

  val qs: Seq[Q] = Seq(
    // Broadcast-hash join: fact x two small dims, zero fact-side shuffle
    // before the aggregate.
    Q(
      "q_join_broadcast",
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_acctbal_micro
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
      U.customer(s, d)
        .join(broadcast(U.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(U.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_customers"),
          U.dsumMicro(col("c_acctbal")).as("sum_acctbal_micro"))
        .orderBy("r_name", "n_name")
    },

    // Large equi join: orders x lineitem, shuffled on the key (sort-merge /
    // shuffled-hash under AQE), partial aggregation before the final shuffle.
    Q(
      "q_join_shuffle",
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS revenue_micro
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      // "merge" hint: at bench SF the orders side fits under the broadcast
      // threshold and Spark would broadcast, hiding the path this operator
      // exists to exercise; at 100 TB sort-merge is the only viable plan, so
      // pin it to measure the real shuffle join.
      U.orders(s, d).hint("merge")
        .join(U.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_lines"),
          U.dsumMicro(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue_micro"))
        .orderBy("o_orderpriority")
    },

    // TPC-H Q3 shape: 3-table join + filter + agg + top-k revenue. Exercises
    // the optimizer end to end — filters push to all three scans, the join
    // order and broadcast/shuffle mix is Catalyst's choice, top-k plans as
    // TakeOrderedAndProject.
    Q(
      "q_tpch_q3",
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS revenue_micro,
        |  epoch_us(o_orderdate) AS orderdate_us, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue_micro DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin) {
      (s, d) =>
        val cutoff = lit("1997-03-15 00:00:00").cast("timestamp")
        U.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .join(
            U.orders(s, d).filter(col("o_orderdate") < cutoff),
            col("c_custkey") === col("o_custkey"))
          .join(
            U.lineitem(s, d).filter(col("l_shipdate") > cutoff),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(
            U.dsumMicro(col("l_extendedprice") * (lit(1) - col("l_discount")))
              .as("revenue_micro"))
          .select(
            col("l_orderkey"),
            col("revenue_micro"),
            unix_micros(col("o_orderdate")).as("orderdate_us"),
            col("o_orderpriority"))
          .orderBy(col("revenue_micro").desc, col("orderdate_us"), col("l_orderkey"))
          .limit(10)
    },

    // TPC-H Q5 shape: 6-table star join (fact chain + three broadcast dims)
    // with a region filter and a date-range filter — the canonical mixed
    // broadcast/shuffle plan.
    Q(
      "q_tpch_q5",
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS revenue_micro
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
      U.customer(s, d)
        .join(
          U.orders(s, d).filter(
            col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(U.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(
          U.supplier(s, d),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        // no broadcast() hint on the dims: a hint overrides the size
        // threshold unconditionally, which would pin the broadcast even at
        // 1000-executor stats where nation/region replicas stop being free.
        // Catalyst broadcasts them from stats anyway at every tested SF, and
        // PlanSpec asserts the plan flips to sort-merge when stats forbid it.
        .join(U.nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .join(U.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(
          U.dsumMicro(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue_micro"))
        .orderBy("n_name")
    },

    // Left outer join preserving customers with no orders.
    Q(
      "q_join_left",
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT), 0) AS total_spent_micro
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, d) =>
      U.customer(s, d)
        .join(U.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(U.dsumMicro(col("o_totalprice")), lit(0L))
            .as("total_spent_micro"))
        .orderBy("c_custkey")
    },

    // Existence join (semi): customers that placed at least one order.
    Q(
      "q_join_semi",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      U.customer(s, d)
        .join(U.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },

    // Anti join: customers that never ordered.
    Q(
      "q_join_anti",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      U.customer(s, d)
        .join(U.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },

    // Range/interval join: equi key + time-band condition — the temporal
    // semantics of the reference's range scan (main.rs:131-134) as a join.
    Q(
      "q_join_range",
      """SELECT o_orderkey, count(*) AS n_in_window
        |FROM orders JOIN lineitem
        |  ON o_orderkey = l_orderkey
        | AND l_shipdate > o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      U.orders(s, d)
        .join(
          U.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") &&
            col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_in_window"))
        .orderBy("o_orderkey")
    },

    // As-of join: for each purchase event, the most recent signup of the
    // same user at-or-before its timestamp. One window pass over a union —
    // no join, single shuffle by series key (SURVEY §2.4 C).
    Q(
      "q_join_asof",
      """WITH u AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id
        |            ORDER BY ts, CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS signup_event_id
        |  FROM events WHERE event_type IN ('signup', 'purchase'))
        |SELECT event_id, user_id, epoch_us(ts) AS ts_us, signup_event_id
        |FROM u WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin) {
      (s, d) =>
        // Signups sort before purchases at equal ts => "at-or-before" holds.
        val kindOrder = when(col("event_type") === "signup", 0).otherwise(1)
        val w = Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts"), kindOrder, col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        U.events(s, d)
          .filter(col("event_type").isin("signup", "purchase"))
          .withColumn(
            "signup_event_id",
            last(
              when(col("event_type") === "signup", col("event_id")),
              ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .select(
            col("event_id"),
            col("user_id"),
            unix_micros(col("ts")).as("ts_us"),
            col("signup_event_id"))
          .orderBy("event_id")
    },

    // TPC-H Q6 shape: the classic predicate-pushdown showcase — a single
    // fact scan where ALL three filters reach parquet row-group stats, then
    // one exact-decimal aggregate to a single row. At 100 TB this is the
    // query where pushdown vs no-pushdown is a 100x scan-size difference.
    Q(
      "q_tpch_q6",
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS revenue_micro,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin) { (s, d) =>
      U.lineitem(s, d)
        .filter(
          col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
            col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
            col("l_quantity") < 24)
        .agg(
          U.dsumMicro(col("l_extendedprice") * col("l_discount"))
            .as("revenue_micro"),
          count(lit(1)).as("n_lines"))
    },

    // TPC-H Q18 shape (large-volume customers). The textbook form (semi
    // join orders against the HAVING keys, then re-join the FULL lineitem
    // and re-aggregate) shuffles 600 M lineitem rows TWICE at sf100 and
    // re-computes the per-order sum it already had — measured 17×/decade
    // (228 s at sf100 in the r14 probe session; the committed
    // BENCH_sf100_rel.json rows are post-rewrite). But the qualifying per-order
    // aggregate IS the query's sum_qty: each output group
    // (c_custkey, o_orderkey, o_orderdate, o_totalprice) contains exactly
    // one order's lineitem rows, so grouping after the join is equivalent
    // to joining the grouped-and-filtered aggregate (orders and customer
    // are PK sides). One lineitem-wide exchange total; the rare qualifying
    // set (sum > 250) then broadcast-joins orders → customer, so neither
    // 150 M-row orders nor customer is ever shuffled. Top-k plans as
    // TakeOrderedAndProject; prices emit as exactly-integral micro units.
    // The broadcast() hint on `big` is load-bearing (ADVICE r14): without
    // it the plan rests on the optimizer's SIZE ESTIMATE of the filtered
    // aggregate — past autoBroadcastJoinThreshold at a larger sf it would
    // silently degrade to shuffling 150 M-row orders, a regression
    // PlanSpec's tiny-corpus one-exchange assertion could never catch. The
    // qualifying set is rare by construction (sum > 250 ≈ top ~1% of
    // orders, ~16 B/row), so pinning the broadcast is safe at any sf.
    // The oracle SQL stays the textbook form — equivalence of the two
    // shapes is exactly what the hash compare certifies.
    Q(
      "q_tpch_q18",
      """WITH big AS (SELECT l_orderkey FROM lineitem
        |             GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |SELECT c_custkey, o_orderkey, epoch_us(o_orderdate) AS orderdate_us,
        |  CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT) AS totalprice_micro,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS BIGINT) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM big)
        |GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY totalprice_micro DESC, o_orderkey LIMIT 100""".stripMargin) {
      (s, d) =>
        val big = U.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast(U.Dec)).as("q"))
          .filter(col("q") > 250)
        U.orders(s, d)
          .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
          .join(U.customer(s, d), col("c_custkey") === col("o_custkey"))
          .select(
            col("c_custkey"),
            col("o_orderkey"),
            unix_micros(col("o_orderdate")).as("orderdate_us"),
            floor(col("o_totalprice") * 1000000 + 0.5).cast("long")
              .as("totalprice_micro"),
            col("q").cast("long").as("sum_qty"))
          .orderBy(col("totalprice_micro").desc, col("o_orderkey"))
          .limit(100)
    },

    // TPC-H Q10 shape (returned-item revenue by customer): 3-table fact
    // chain + broadcast nation dim, quarter date filter on orders and
    // return-flag filter on lineitem both pushed to their scans, top-20 by
    // exact micro-unit revenue (integral BIGINT both engines) with a key
    // tie-break.
    Q(
      "q_tpch_q10",
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS revenue_micro,
        |  CAST(floor(c_acctbal * 1000000 + 0.5) AS BIGINT) AS acctbal_micro,
        |  n_name
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue_micro DESC, c_custkey LIMIT 20""".stripMargin) { (s, d) =>
      U.customer(s, d)
        .join(
          U.orders(s, d).filter(
            col("o_orderdate") >= lit("1996-10-01 00:00:00").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(
          U.lineitem(s, d).filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(U.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(
          U.dsumMicro(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue_micro"))
        .select(
          col("c_custkey"),
          col("c_name"),
          col("revenue_micro"),
          floor(col("c_acctbal") * 1000000 + 0.5).cast("long").as("acctbal_micro"),
          col("n_name"))
        .orderBy(col("revenue_micro").desc, col("c_custkey"))
        .limit(20)
    },

    // Interval-overlap join, bucketized: user sessions x incident windows
    // (±5 min around error events) that OVERLAP in time. The naive plan is
    // a per-user cross product with a range filter; instead both interval
    // sets explode onto a fixed 1-hour time grid and equi-join on
    // (user, bucket) — the manual form of the bin-based range-join
    // optimization — so candidate pairs are only those sharing a grid
    // cell; the exact overlap predicate then filters, and distinct()
    // removes multi-bucket double-matches. The oracle IS the naive
    // non-equi join: bucketization is physical, not semantic.
    Q(
      "q_join_interval_overlap",
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
        |  FROM g),
        |sess AS (
        |  SELECT user_id, session_id,
        |    min(CAST(floor(epoch(ts)) AS BIGINT)) AS s0,
        |    max(CAST(floor(epoch(ts)) AS BIGINT)) AS s1
        |  FROM t GROUP BY user_id, session_id),
        |inc AS (
        |  SELECT user_id, event_id AS incident_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) - 300 AS i0,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 300 AS i1
        |  FROM events WHERE event_type = 'error')
        |SELECT s.user_id, s.session_id, i.incident_id,
        |  greatest(s.s0, i.i0) AS ov_start, least(s.s1, i.i1) AS ov_end
        |FROM sess s JOIN inc i
        |  ON s.user_id = i.user_id AND s.s0 <= i.i1 AND i.i0 <= s.s1
        |ORDER BY s.user_id, s.session_id, i.incident_id""".stripMargin) { (s, d) =>
      val W = 3600L
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val epochS = unix_timestamp(col("ts"))
      val gap = epochS - lag(epochS, 1).over(wOrd)
      val sess = U.events(s, d)
        .withColumn("new_s", when(gap.isNull || gap > 1800, 1L).otherwise(0L))
        .withColumn(
          "session_id",
          sum(col("new_s")).over(wOrd.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(epochS).as("s0"), max(epochS).as("s1"))
      val inc = U.events(s, d)
        .filter(col("event_type") === "error")
        .select(
          col("user_id").as("i_user"),
          col("event_id").as("incident_id"),
          (unix_timestamp(col("ts")) - 300).as("i0"),
          (unix_timestamp(col("ts")) + 300).as("i1"))
      val sessB = sess.withColumn(
        "bkt",
        explode(sequence(floor(col("s0") / W).cast("long"), floor(col("s1") / W).cast("long"))))
      val incB = inc.withColumn(
        "bkt",
        explode(sequence(floor(col("i0") / W).cast("long"), floor(col("i1") / W).cast("long"))))
      sessB
        .join(
          incB,
          col("user_id") === col("i_user") && sessB("bkt") === incB("bkt") &&
            col("s0") <= col("i1") && col("i0") <= col("s1"))
        .select(
          col("user_id"),
          col("session_id"),
          col("incident_id"),
          greatest(col("s0"), col("i0")).as("ov_start"),
          least(col("s1"), col("i1")).as("ov_end"))
        .distinct()
        .orderBy("user_id", "session_id", "incident_id")
    },

    // Skew-class shuffled join, UNSALTED since r19. Through r18 this key
    // carried a manual salt (fact +pmod salt, dim exploded 8x) as the
    // skew-mitigation demonstrator; the r19 sf1 A/B retired it: with no
    // hot key in the data the 8x dim replication was pure overhead —
    // salted 2.54/2.76 s vs plain 1.24/1.61 s (count/hash, back-to-back,
    // 6 M lineitem rows) — and for a plain shuffled equi JOIN, AQE's
    // runtime skew split handles a genuinely hot key unaided (PlanSpec
    // "AQE skew-join splits a planted hot key" proves OptimizeSkewedJoin
    // fires on exactly this shape), making the salt redundant on BOTH
    // sides of the skew question. Manual salting remains the documented
    // fallback for what AQE can't touch — skewed AGGREGATION keys (see
    // q_agg_salted / Skew.saltedAgg), joins that must preserve a specific
    // output partitioning, and build-side skew in a shuffled hash join.
    // The `merge` hint pins the shuffle path for the same reason as
    // q_join_shuffle (this key's contract is the shuffled-join plan
    // class; results are oracle-identical either way).
    Q(
      "q_join_salted",
      """SELECT o_orderpriority, l_returnflag, count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS revenue_micro
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority, l_returnflag
        |ORDER BY o_orderpriority, l_returnflag""".stripMargin) { (s, d) =>
      val fact = U.lineitem(s, d)
      val dim = U.orders(s, d)
      fact
        .hint("merge")
        .join(
          dim,
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"), col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_lines"),
          U.dsumMicro(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue_micro"))
        .orderBy("o_orderpriority", "l_returnflag")
    },

    // CDC upsert merge (SCD type 1): a per-order revenue delta keyed on
    // l_orderkey*2 (so ~half the keys update existing orders and half are
    // inserts beyond the key range) merged into `orders` via one full-outer
    // join — matched rows take the delta price, unmatched keep/insert.
    // This is MERGE INTO re-expressed as a join: one shuffle on the key,
    // AQE-planned, no driver-side state; at 100 TB the delta side is
    // typically small enough to broadcast, flipping the plan for free.
    // Prices are emitted as exactly-integral micro-units (BIGINT): the
    // delta side is an exact decimal sum scaled by 10^6, the kept side is
    // floor(x*10^6 + 0.5) — both bit-identical across engines, where a
    // round-to-2dp double hits half boundaries (observed at sf0.01).
    Q(
      "q_merge_upsert",
      """WITH delta AS (
        |  SELECT l_orderkey * 2 AS key,
        |    CAST(CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS d_micro
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT coalesce(o.o_orderkey, d.key) AS o_orderkey,
        |  coalesce(d.d_micro, CAST(floor(o.o_totalprice * 1000000 + 0.5) AS BIGINT)) AS price_micro,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'insert'
        |       WHEN d.key IS NULL THEN 'keep'
        |       ELSE 'update' END AS op
        |FROM orders o FULL OUTER JOIN delta d ON o.o_orderkey = d.key
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val delta = U.lineitem(s, d)
        .groupBy((col("l_orderkey") * 2).as("key"))
        .agg(
          (sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(U.Dec))
            .cast(U.Dec) * 1000000).cast("long").as("d_micro"))
      U.orders(s, d)
        .join(delta, col("o_orderkey") === col("key"), "full_outer")
        .select(
          coalesce(col("o_orderkey"), col("key")).as("o_orderkey"),
          coalesce(
            col("d_micro"),
            floor(col("o_totalprice") * 1000000 + 0.5).cast("long"))
            .as("price_micro"),
          when(col("o_orderkey").isNull, "insert")
            .when(col("key").isNull, "keep")
            .otherwise("update")
            .as("op"))
        .orderBy("o_orderkey")
    // Spill-regime seed hint (r17; VERDICT r16 item 1): the global sort
    // buffers the full-outer join OUTPUT (~260 M rows at sf100) whose row
    // count depends on the delta aggregate's group count — invisible to
    // every static size signal (winSortChild is rightly 0: the sort's
    // child contains the join). Measured optimum is non-monotonic
    // (384 → 82.6 s, 512 → 45.2 s, 1024 → 139.9 s at sf100,
    // BENCH_autoparts_AB.json), so a weight-based correction would
    // overshoot into the 1024 cap; the hint pins the measured best. Inert
    // below the spill regime (AutoParts applies it only when the formula
    // is above the cpu floor).
    }.withSeedHint(512),

    // TPC-H Q4 shape (order priority checking): EXISTS decorrelates into a
    // LEFT SEMI join whose condition mixes the equi key with a non-equi
    // residual (l_shipdate > o_orderdate — "shipped late"; the driver
    // lineitem has no commitdate/receiptdate, so lateness is vs the order
    // date). The semi join never materializes match multiplicity — an order
    // with 7 late lines counts once, with no post-join distinct — and the
    // quarter filter on orders is pushed to its scan. Exact integer counts.
    Q(
      "q_tpch_q4",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
      (s, d) =>
        U.orders(s, d)
          .filter(
            col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
              col("o_orderdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
          .join(
            U.lineitem(s, d),
            col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") > col("o_orderdate"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
    },

    // TPC-H Q19 shape (discounted revenue, disjunctive predicate): the
    // classic OR-of-ANDs query. Each disjunct pairs a part predicate with a
    // lineitem predicate, so neither side's filter is implied by the WHERE
    // clause alone — the manual fix (the same one Catalyst's
    // join-condition-pushdown misses for complex disjunctions) is to
    // STRENGTHEN with the implied union predicates: p_brand IN (the 3
    // brands) prunes the part scan and l_quantity BETWEEN 1 AND 36 prunes
    // lineitem row groups, before the (broadcast — part is a dim) join
    // evaluates the exact disjunction. Revenue via exact decimal sum.
    Q(
      "q_tpch_q19",
      """SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS revenue_micro,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 16)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 26)
        |   OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 36)""".stripMargin) {
      (s, d) =>
        val brands = Seq("Brand#12", "Brand#23", "Brand#21")
        val part = U.part(s, d)
          .filter(col("p_brand").isin(brands: _*) && col("p_size") >= 1)
        val li = U.lineitem(s, d)
          .filter(col("l_quantity") >= 1 && col("l_quantity") <= 36)
        val disjunct =
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 16)) ||
            (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
              col("l_quantity").between(10, 26)) ||
            (col("p_brand") === "Brand#21" && col("p_size").between(1, 35) &&
              col("l_quantity").between(20, 36))
        li.join(broadcast(part), col("p_partkey") === col("l_partkey"))
          .filter(disjunct)
          .agg(
            U.dsumMicro(col("l_extendedprice") * (lit(1) - col("l_discount")))
              .as("revenue_micro"),
            count(lit(1)).as("n_lines"))
    },

    // TPC-H Q7 shape (volume shipping between two nations): the classic
    // two-sided disjunctive dim predicate — (supp_nation, cust_nation)
    // must be (N1,N2) or (N2,N1). Both dim chains prune BEFORE touching
    // the fact: supplier⋈nation and customer⋈nation each filter to the
    // two nations (1/12.5 of each dim) and broadcast; once both sides are
    // in {N1,N2} the OR pair collapses to supp_nation != cust_nation.
    // The only big-big exchange is lineitem⋈orders on the order key —
    // exactly the shuffle TPC-H Q7 cannot avoid; everything else rides
    // broadcast. Exact decimal revenue per (supp, cust, ship-year).
    Q(
      "q_tpch_q7",
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(volume) * 1000000 AS BIGINT) AS revenue_micro,
        |  count(*) AS n_lines
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS volume
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |    AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) { (s, d) =>
      val pair = Seq("NATION_1", "NATION_2")
      val n = U.nation(s, d).filter(col("n_name").isin(pair: _*))
      val supp = U.supplier(s, d)
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = U.customer(s, d)
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      U.lineitem(s, d)
        .filter(
          col("l_shipdate") >= lit("1995-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
        .join(broadcast(supp), col("s_suppkey") === col("l_suppkey"))
        .join(U.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(cust), col("c_custkey") === col("o_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(
          col("supp_nation"),
          col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(
          U.dsumMicro(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue_micro"),
          count(lit(1)).as("n_lines"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // TPC-H Q16 shape (supplier diversity per part class): the driver
    // schema has no partsupp, so the part-supplier relation is lineitem's
    // (l_partkey, l_suppkey) — same anti-join + grouped DISTINCT-count
    // skeleton. "Complaint" suppliers (TPC-H's comment LIKE) stand in as
    // negative account balance. Both dims broadcast: part (filtered) into
    // the fact join, the complaint key set into a LEFT ANTI join — NOT IN
    // is safe as an anti join because s_suppkey is a non-null key. The one
    // exchange is the partial-distinct aggregate on (brand, size,
    // suppkey) — Spark expands count(DISTINCT) into a two-phase
    // partial-distinct plan, so the fact never shuffles raw rows twice.
    Q(
      "q_tpch_q16",
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin) { (s, d) =>
      val sizes = Seq(1, 5, 10, 15, 20, 25, 30, 35)
      val part = U.part(s, d)
        .filter(
          col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(sizes: _*))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val complaints = U.supplier(s, d)
        .filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      U.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(complaints), col("s_suppkey") === col("l_suppkey"), "left_anti")
        .join(broadcast(part), col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
    },

    // TPC-H Q12 shape (late-shipment priority split): the driver schema has
    // no l_shipmode/l_commitdate, so "late" is l_shipdate more than 60 days
    // after o_orderdate and the grouping key is l_linestatus. The shape is
    // what matters: an equi join on the order key whose residual predicate
    // is non-equi date arithmetic, then conditional counts per group. The
    // orderkey shuffle is Q12's one unavoidable exchange; the two-year
    // l_shipdate band is pushed to the lineitem scan so at 100 TB the fact
    // read is row-group-pruned before the join. Counts via count(CASE) so
    // both engines emit BIGINT (DuckDB sum(int) would be HUGEINT).
    Q(
      "q_tpch_q12",
      """SELECT l_linestatus,
        |  count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_line_count,
        |  count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin) { (s, d) =>
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      U.lineitem(s, d)
        .filter(
          col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .join(U.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_linestatus"))
        .agg(
          count(when(high, 1)).as("high_line_count"),
          count(when(!high, 1)).as("low_line_count"))
        .orderBy("l_linestatus")
    },

    // TPC-H Q14 shape (promo revenue share per ship month): conditional
    // revenue over total revenue. Both sums are exact DECIMAL (order-
    // independent partials merge associatively at any parallelism); only
    // the final share is one double division + multiply + round, the same
    // IEEE expression tree in both engines. Map-side partial aggregation
    // means the one exchange carries 24 rows per task, not lines.
    Q(
      "q_tpch_q14",
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(month(l_shipdate) AS BIGINT) AS l_month,
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) * 1000000 AS BIGINT) AS promo_revenue_micro,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS total_revenue_micro,
        |  round(CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) * 100, 4) AS promo_share
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val promoRev =
        when(col("p_type") === "PROMO", rev).otherwise(lit(0))
      val promoSum = U.dsum(promoRev)
      val totalSum = U.dsum(rev)
      U.lineitem(s, d)
        .filter(
          col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
        .join(broadcast(U.part(s, d)), col("p_partkey") === col("l_partkey"))
        .groupBy(
          year(col("l_shipdate")).cast("long").as("l_year"),
          month(col("l_shipdate")).cast("long").as("l_month"))
        .agg(
          U.dsumMicro(promoRev).as("promo_revenue_micro"),
          U.dsumMicro(rev).as("total_revenue_micro"),
          round(promoSum / totalSum * 100, 4).as("promo_share"))
        .orderBy("l_year", "l_month")
    },

    // TPC-H Q15 shape (top supplier by quarter revenue): per-supplier
    // revenue, keep the supplier(s) equal to the global max — the classic
    // view + scalar-max-subquery. The max rides a 1-row broadcast (same
    // recipe as q_tpch_q11's scalar threshold), so the per-supplier frame
    // is scanned once and never re-shuffled; equality is on EXACT decimal
    // revenue, so a tie admits both suppliers in both engines instead of
    // depending on float noise.
    Q(
      "q_tpch_q15",
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |  CAST(total_rev * 1000000 AS BIGINT) AS total_revenue_micro
        |FROM supplier JOIN rev ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      // per-supplier revenue is consumed twice (max cut + probe rows):
      // checkpoint the node-sized aggregate so the quarter's lineitem scan
      // runs once, not once per consumer
      val rev = U.lineitem(s, d)
        .filter(
          col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(U.Dec))
          .as("total_rev"))
        .transform(U.ckpt(_, "q_tpch_q15_revenue"))
      val top = rev.agg(max(col("total_rev")).as("max_rev"))
      rev
        .crossJoin(broadcast(top))
        .filter(col("total_rev") === col("max_rev"))
        .join(
          broadcast(U.supplier(s, d)),
          col("s_suppkey") === col("l_suppkey"))
        .select(
          col("s_suppkey"),
          col("s_name"),
          (col("total_rev") * 1000000).cast("long").as("total_revenue_micro"))
        .orderBy("s_suppkey")
    },

    // TPC-H Q22 shape (rich idle customers): global-average cut via scalar
    // subquery + NOT EXISTS anti join, grouped by nation. The average is
    // never divided: acctbal > avg is cross-multiplied to
    // acctbal * n > sum in EXACT decimals (n > 0), so the cut is
    // bit-identical in both engines with zero float boundaries. The 1-row
    // (sum, n) frame broadcasts; the anti join on the customer key is the
    // one required exchange pair.
    Q(
      "q_tpch_q22",
      """WITH cut AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,6))) AS bal_sum, count(*) AS n
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS totacctbal_micro
        |FROM customer, cut
        |WHERE CAST(c_acctbal AS DECIMAL(18,6)) * n > bal_sum
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      val cust = U.customer(s, d)
      val cut = cust
        .filter(col("c_acctbal") > 0)
        .agg(
          sum(col("c_acctbal").cast(U.Dec)).as("bal_sum"),
          count(lit(1)).as("n"))
      cust
        .crossJoin(broadcast(cut))
        .filter(col("c_acctbal").cast(U.Dec) * col("n") > col("bal_sum"))
        .join(
          U.orders(s, d).select(col("o_custkey")),
          col("o_custkey") === col("c_custkey"),
          "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(
          count(lit(1)).as("numcust"),
          U.dsumMicro(col("c_acctbal")).as("totacctbal_micro"))
        .orderBy("c_nationkey")
    },

    // TPC-H Q2 shape (min-cost supplier per part): the driver schema has no
    // partsupp, so the part-supplier cost relation is lineitem aggregated to
    // min line price per (part, supplier). The correlated min-subquery is a
    // window min over the part key. Order of operations is the scale story:
    // the part filter broadcasts INTO the lineitem scan first, so the
    // (part, supplier) aggregate and the window run on the pruned fact, not
    // all of it; supplier attaches by broadcast at the end.
    Q(
      "q_tpch_q2",
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(l_extendedprice AS DECIMAL(18,6))) AS cost
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_type = 'SMALL' AND p_size <= 5
        |  GROUP BY l_partkey, l_suppkey),
        |best AS (SELECT l_partkey, min(cost) AS min_cost FROM ps GROUP BY l_partkey)
        |SELECT p_partkey, p_brand, s_suppkey, s_name,
        |  CAST(cost * 1000000 AS BIGINT) AS cost_micro
        |FROM ps
        |JOIN best USING (l_partkey)
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |WHERE cost = min_cost
        |ORDER BY p_partkey, s_suppkey""".stripMargin) { (s, d) =>
      val smallPart = U.part(s, d)
        .filter(col("p_type") === "SMALL" && col("p_size") <= 5)
        .select(col("p_partkey"), col("p_brand"))
      val ps = U.lineitem(s, d)
        .join(broadcast(smallPart), col("p_partkey") === col("l_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"), col("p_partkey"), col("p_brand"))
        .agg(min(col("l_extendedprice").cast(U.Dec)).as("cost"))
      ps
        .withColumn(
          "min_cost",
          min(col("cost")).over(Window.partitionBy(col("l_partkey"))))
        .filter(col("cost") === col("min_cost"))
        .join(
          broadcast(U.supplier(s, d)),
          col("s_suppkey") === col("l_suppkey"))
        .select(
          col("p_partkey"),
          col("p_brand"),
          col("s_suppkey"),
          col("s_name"),
          (col("cost") * 1000000).cast("long").as("cost_micro"))
        .orderBy("p_partkey", "s_suppkey")
    },

    // TPC-H Q17 shape (small-quantity-order revenue): the correlated
    // per-part average-quantity subquery. The cut l_quantity < 0.2·avg is
    // cross-multiplied to 5·qty·n < sum in EXACT decimals (same recipe as
    // q_tpch_q22) — no division, no float boundary. Both the per-part
    // aggregate and the probe side are pruned by the broadcast part filter
    // BEFORE any exchange, then meet co-partitioned on the part key; the
    // one double op is the final /7.0 + round, identical in both engines.
    Q(
      "q_tpch_q17",
      """WITH pq AS (
        |  SELECT l_partkey AS pk,
        |    sum(CAST(l_quantity AS DECIMAL(18,6))) AS qty_sum, count(*) AS qty_n
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) // 7 AS avg_yearly_micro,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey JOIN pq ON pk = l_partkey
        |WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'
        |  AND CAST(l_quantity AS DECIMAL(18,6)) * 5 * qty_n < qty_sum""".stripMargin) {
      (s, d) =>
        val mediumPart = U.part(s, d)
          .filter(col("p_brand") === "Brand#23" && col("p_type") === "MEDIUM")
          .select(col("p_partkey"))
        val filtered = U.lineitem(s, d)
          .join(broadcast(mediumPart), col("p_partkey") === col("l_partkey"))
        val pq = filtered
          .groupBy(col("l_partkey").as("pk"))
          .agg(
            sum(col("l_quantity").cast(U.Dec)).as("qty_sum"),
            count(lit(1)).as("qty_n"))
        filtered
          .join(pq, col("pk") === col("l_partkey"))
          .filter(
            col("l_quantity").cast(U.Dec) * 5 * col("qty_n") < col("qty_sum"))
          .agg(
            U.dsumMicro(col("l_extendedprice")).as("rev_micro"),
            count(lit(1)).as("n_lines"))
          // integer division of the exactly-integral micro sum: both
          // operands positive, so DuckDB's floor-div and Spark's
          // truncate-div agree bit for bit — no float boundary anywhere
          .select(
            expr("rev_micro div 7").as("avg_yearly_micro"),
            col("n_lines"))
    },

    // TPC-H Q20 shape, scale-stable reframing (dominant supplier per
    // part): the driver schema has no partsupp/availqty, and a fixed
    // excess-share threshold returns 0 rows once the supplier pool grows,
    // so the nested-aggregate chain keeps Q20's skeleton — per-(part,supp)
    // quantity vs per-part total — but selects the rank-1 supplier per
    // part with exact micro-scaled integer quantities instead of
    // thresholding. One broadcast-pruned aggregate + one window pass on
    // the part key; quantities stay DECIMAL end to end and are emitted as
    // exactly-integral micro units (cast round/trunc divergence is moot on
    // integral values).
    Q(
      "q_tpch_q20",
      """WITH sp AS (
        |  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,6))) AS sq
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE 'large%'
        |  GROUP BY l_partkey, l_suppkey),
        |ranked AS (
        |  SELECT l_partkey, l_suppkey, sq,
        |    sum(sq) OVER (PARTITION BY l_partkey) AS tq,
        |    row_number() OVER (PARTITION BY l_partkey ORDER BY sq DESC, l_suppkey) AS rk
        |  FROM sp)
        |SELECT l_partkey, l_suppkey AS top_suppkey,
        |  CAST(sq * 1000000 AS BIGINT) AS top_qty_micro,
        |  CAST(tq * 1000000 AS BIGINT) AS total_qty_micro
        |FROM ranked WHERE rk = 1 ORDER BY l_partkey""".stripMargin) { (s, d) =>
      val largePart = U.part(s, d)
        .filter(col("p_name").like("large%"))
        .select(col("p_partkey"))
      val sp = U.lineitem(s, d)
        .join(broadcast(largePart), col("p_partkey") === col("l_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast(U.Dec)).as("sq"))
      val byPart = Window.partitionBy(col("l_partkey"))
      sp.withColumn("tq", sum(col("sq")).over(byPart))
        .withColumn(
          "rk",
          row_number().over(byPart.orderBy(col("sq").desc, col("l_suppkey"))))
        .filter(col("rk") === 1)
        .select(
          col("l_partkey"),
          col("l_suppkey").as("top_suppkey"),
          (col("sq") * 1000000).cast("long").as("top_qty_micro"),
          (col("tq") * 1000000).cast("long").as("total_qty_micro"))
        .orderBy("l_partkey")
    },

    // TPC-H Q21 shape (suppliers who kept orders waiting): the classic
    // EXISTS + NOT EXISTS pair — another supplier on the same order, but
    // no OTHER supplier late — rewritten as per-order counts so the
    // multiplicity logic is one aggregation instead of two correlated
    // subquery probes. "Late" is l_shipdate > o_orderdate + 90 days (the
    // driver schema has no commit/receipt dates). One orderkey shuffle
    // feeds both the (order, supp) collapse and the per-order window
    // counts; the supplier dim attaches by broadcast at the end.
    Q(
      "q_tpch_q21",
      """WITH ls AS (
        |  SELECT l_orderkey, l_suppkey,
        |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS late
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY l_orderkey, l_suppkey),
        |agg AS (
        |  SELECT l_orderkey, count(*) AS n_supp,
        |    count(*) FILTER (WHERE late = 1) AS n_late
        |  FROM ls GROUP BY 1)
        |SELECT s_name, count(*) AS numwait
        |FROM ls JOIN agg USING (l_orderkey) JOIN supplier ON s_suppkey = l_suppkey
        |WHERE ls.late = 1 AND agg.n_supp > 1 AND agg.n_late = 1
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin) { (s, d) =>
      val ls = U.lineitem(s, d)
        .join(
          U.orders(s, d).filter(col("o_orderstatus") === "F"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(
          max(
            when(
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
              1).otherwise(0)).as("late"))
      val byOrder = Window.partitionBy(col("l_orderkey"))
      ls.withColumn("n_supp", count(lit(1)).over(byOrder))
        .withColumn("n_late", sum(col("late")).over(byOrder))
        .filter(col("late") === 1 && col("n_supp") > 1 && col("n_late") === 1)
        .join(
          broadcast(U.supplier(s, d)),
          col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    },

    // TPC-H Q13 shape (customer order-count distribution): LEFT join so
    // order-less customers survive with count 0 — the distribution's most
    // important bucket, and the reason this can't be an inner-join
    // groupBy. One custkey shuffle feeds the join and the per-customer
    // count (co-partitioned); the distribution re-agg is 20-odd rows.
    Q(
      "q_tpch_q13",
      """WITH co AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM co GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, d) =>
      U.customer(s, d)
        .join(
          U.orders(s, d),
          col("o_custkey") === col("c_custkey"),
          "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // TPC-H Q8 shape (national market share): the deepest dim chain in the
    // suite — region→nation→customer on the demand side, nation→supplier
    // on the supply side, part type filter — every one broadcast, so the
    // fact flows through exactly ONE big-big exchange (lineitem⋈orders on
    // the order key, same as Q7). Share = conditional revenue over total
    // revenue from exact decimal sums; one double division + round(6)
    // finish, the identical IEEE tree both engines (q_tpch_q14 recipe).
    Q(
      "q_tpch_q8",
      """WITH flat AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS volume,
        |    n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE r_name = 'ASIA' AND p_type = 'STANDARD')
        |SELECT o_year,
        |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |    / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share,
        |  count(*) AS n_lines
        |FROM flat GROUP BY o_year ORDER BY o_year""".stripMargin) { (s, d) =>
      val nat = U.nation(s, d)
      val custAsia = U.customer(s, d)
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(
          broadcast(U.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val suppNation = U.supplier(s, d)
        .join(
          broadcast(nat.select(
            col("n_nationkey").as("sn_key"),
            col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("supp_nation"))
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      U.lineitem(s, d)
        .join(
          broadcast(U.part(s, d)
            .filter(col("p_type") === "STANDARD")
            .select(col("p_partkey"))),
          col("p_partkey") === col("l_partkey"))
        .join(broadcast(suppNation), col("s_suppkey") === col("l_suppkey"))
        .join(U.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(custAsia), col("c_custkey") === col("o_custkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          round(
            U.dsum(when(col("supp_nation") === "NATION_2", rev).otherwise(lit(0)))
              / U.dsum(rev), 6).as("mkt_share"),
          count(lit(1)).as("n_lines"))
        .orderBy("o_year")
    },

    // TPC-H Q1 (pricing summary) — THE canonical scan-aggregate, completing
    // the 22/22 TPC-H shape sweep (with Q9 below). Pure single-pass over
    // lineitem: the date predicate pushes to the scan, every sum is exact
    // DECIMAL (order-independent partials), averages are one double
    // division each, and the grouping key has 6 values so the exchange
    // carries a handful of partial rows per task regardless of fact size.
    Q(
      "q_tpch_q1",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_qty_micro,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_base_price_micro,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_disc_price_micro,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_charge_micro,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_price,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      val discPrice = col("l_extendedprice") * (lit(1) - col("l_discount"))
      U.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          U.dsumMicro(col("l_quantity")).as("sum_qty_micro"),
          U.dsumMicro(col("l_extendedprice")).as("sum_base_price_micro"),
          U.dsumMicro(discPrice).as("sum_disc_price_micro"),
          U.dsumMicro(discPrice * (lit(1) + col("l_tax"))).as("sum_charge_micro"),
          round(U.dsum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
          round(U.dsum(col("l_extendedprice")) / count(lit(1)), 6).as("avg_price"),
          round(U.dsum(col("l_discount")) / count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // TPC-H Q9 shape (product-type profit by nation and year): the driver
    // schema has no ps_supplycost, so cost is p_retailprice · quantity —
    // same join graph (part name LIKE filter, supplier→nation, the
    // lineitem⋈orders year source) and the same signed-measure profit
    // aggregate. All dims broadcast; the one big-big exchange is again
    // lineitem⋈orders. Profit can be NEGATIVE — the exact-decimal sum is
    // what makes that safe (a float sum of mixed-sign values is where
    // cancellation error bites hardest). Emitted as micro-unit BIGINT, not
    // round(double, 2): profit sums land exactly on .xx5 half boundaries
    // (prices have few decimal digits), where Spark's HALF_UP on the
    // shortest decimal rendering and DuckDB's round on the binary value
    // disagree — observed at sf0.001 before the integer scaling.
    Q(
      "q_tpch_q9",
      """WITH profit AS (
        |  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity AS DECIMAL(18,6)) AS amount
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  WHERE p_name LIKE '%widget%')
        |SELECT nation, o_year,
        |  CAST(sum(amount) * 1000000 AS BIGINT) AS sum_profit_micro,
        |  count(*) AS n_lines
        |FROM profit GROUP BY nation, o_year
        |ORDER BY nation, o_year DESC""".stripMargin) { (s, d) =>
      val amount = (col("l_extendedprice") * (lit(1) - col("l_discount")) -
        col("p_retailprice") * col("l_quantity")).cast(U.Dec)
      U.lineitem(s, d)
        .join(
          broadcast(U.part(s, d)
            .filter(col("p_name").like("%widget%"))
            .select(col("p_partkey"), col("p_retailprice"))),
          col("p_partkey") === col("l_partkey"))
        .join(
          broadcast(U.supplier(s, d)
            .join(
              broadcast(U.nation(s, d)),
              col("s_nationkey") === col("n_nationkey"))
            .select(col("s_suppkey"), col("n_name").as("nation"))),
          col("s_suppkey") === col("l_suppkey"))
        .join(U.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          (sum(amount) * 1000000).cast("long").as("sum_profit_micro"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("nation"), col("o_year").desc)
    },

    // Fuzzy lookup join (entity resolution / query correction): every
    // 500th part name with its first character dropped is a deterministic
    // "typo" probe; each probe resolves to its best corpus match by
    // Levenshtein distance <= 2, ties to the lowest key.
    //
    // Candidate generation is PassJoin segment signatures (Li, Deng,
    // Feng, VLDB 2012) instead of a bare length band: r1-r10 ran
    // broadcast(probes) against every in-band catalog row, which is
    // O(probes x catalog) levenshtein calls — both sides grow with the
    // corpus, so the r11 sf10 probe measured 27x wall for 10x data (the
    // quadratic showed only past sf1). PassJoin's pigeonhole: split every
    // catalog name into k+1 = 3 contiguous segments — at most k = 2 edits
    // can touch at most 2 of them, so some segment survives UNTOUCHED and
    // appears verbatim in any probe within distance 2, shifted by at most
    // the +/-2 net indels before it. The catalog therefore emits 3
    // (seg_idx, length, content) keys per name, each probe emits its
    // substrings for every (seg_idx, match-length in its +/-2 band) at
    // shifts within +/-2 (<= 75 short keys, deduped), and the equi-join of
    // the two key sets is a LOSSLESS candidate set: exact levenshtein
    // (with the <= 2 early-exit threshold) runs on candidates only, and
    // the same lexicographic min(struct(dist, key, name)) argmin
    // partial-aggregates map-side so the exchange still carries one tiny
    // row per probe. The probe KEY set stays broadcast-sized (a lookup
    // batch is always small next to the catalog); the catalog is scanned
    // once, map-side, never shuffled.
    //
    // Scale regimes, both MEASURED at sf1->sf10 (r12; BENCH_fuzzy_divcat
    // .json): on a realistic catalog whose names carry per-item
    // distinguishing tokens throughout (ScaleGen --diverse-part: three
    // interleaved SKU tokens), candidates stay exactly linear in the probe
    // set (400 -> 4001) and the decade costs 2.49x wall while BOTH sides
    // grow 10x — the plan is sub-linear in total input. The driver
    // catalog's 92-word vocabulary is the documented ADVERSARIAL bound:
    // it saturates any substring signature (1.05 B of 8 B pairs share a
    // segment), the verify step is Omega(genuine candidates), and the
    // measured decade is 14.4x there — a data property, not a plan
    // property (a suffix-only control still saturated the middle segment:
    // 145 M candidates; diversity must reach every segment).
    Q(
      "q_join_fuzzy",
      """WITH p AS (
        |  SELECT p_partkey AS probe_key, substr(p_name, 2) AS probe_name
        |  FROM part WHERE p_partkey % 500 = 0),
        |c AS (
        |  SELECT probe_key, probe_name, b.p_partkey AS mk, b.p_name AS mn,
        |    CAST(levenshtein(probe_name, b.p_name) AS BIGINT) AS dist
        |  FROM p JOIN part b
        |    ON abs(length(probe_name) - length(b.p_name)) <= 2
        |  WHERE levenshtein(probe_name, b.p_name) <= 2)
        |SELECT probe_key, probe_name, mk AS match_key, mn AS match_name, dist
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY probe_key ORDER BY dist, mk) AS rn FROM c)
        |WHERE rn = 1 ORDER BY probe_key""".stripMargin) { (s, d) =>
      val probes = U.part(s, d)
        .filter(col("p_partkey") % 500 === 0)
        .select(
          col("p_partkey").as("probe_key"),
          substring(col("p_name"), 2, Int.MaxValue).as("probe_name"))
      // catalog side: 3 segment keys per name — (i, L, seg) with the
      // deterministic balanced split (first L%3 segments one char longer)
      val catKeys = U.part(s, d)
        .select(
          col("p_partkey"), col("p_name"), length(col("p_name")).as("L"),
          explode(expr(
            "transform(sequence(0, 2), i -> struct(i AS i, " +
              "substring(p_name, " +
              "i * (length(p_name) div 3) + least(i, length(p_name) % 3) + 1, " +
              "(length(p_name) div 3) + if(i < length(p_name) % 3, 1, 0)" +
              ") AS seg))")).as("sg"))
        .select(
          col("p_partkey"), col("p_name"), col("L"),
          col("sg.i").as("i"), col("sg.seg").as("seg"))
      // probe side: for every match length L in the +/-2 band, the
      // segment-i content must appear in the probe within +/-2 of the
      // segment's position in the match — enumerate those substrings
      val probeKeys = probes
        .withColumn("P", length(col("probe_name")))
        .withColumn("L", explode(expr("sequence(greatest(P - 2, 1), P + 2)")))
        .withColumn("i", explode(expr("sequence(0, 2)")))
        .withColumn("st", expr("i * (L div 3) + least(i, L % 3)"))
        .withColumn("ln", expr("(L div 3) + if(i < L % 3, 1, 0)"))
        .withColumn("s", explode(expr("sequence(st - 2, st + 2)")))
        .filter(col("s") >= 0 && col("s") + col("ln") <= col("P"))
        .select(
          col("probe_key"), col("probe_name"), col("i"), col("L"),
          expr("substring(probe_name, s + 1, ln)").as("seg"))
        .distinct()
      // -1 sentinel from the thresholded levenshtein means "> 2"; kept
      // pairs carry the true distance, so the argmin is unchanged
      val dist = levenshtein(col("probe_name"), col("p_name"), 2)
      catKeys
        .join(broadcast(probeKeys), Seq("i", "L", "seg"))
        .select(col("probe_key"), col("probe_name"), col("p_partkey"), col("p_name"))
        .distinct()
        .filter(dist >= 0 && dist <= 2)
        .groupBy(col("probe_key"), col("probe_name"))
        .agg(min(struct(
          dist.cast("long").as("dist"),
          col("p_partkey").as("match_key"),
          col("p_name").as("match_name"))).as("m"))
        .select(
          col("probe_key"),
          col("probe_name"),
          col("m.match_key").as("match_key"),
          col("m.match_name").as("match_name"),
          col("m.dist").as("dist"))
        .orderBy("probe_key")
    },

    // Bloom-filter runtime pruning in front of an exact semi join — the
    // sideways-information-passing move big engines make when the build
    // side is too big to broadcast as an exact set but its MEMBERSHIP fits
    // in a few hundred KB: the ~2%-selective "hot orders" (o_totalprice >
    // 490k) fold into one bloom_filter_agg row, which broadcasts into the
    // lineitem scan and drops ~98% of fact rows BEFORE the shuffle; the
    // exact semi join then removes the bloom's false positives, so the
    // RESULT is identical to the plain semi join (which is the oracle) —
    // only the bytes entering the exchange change. Spark's own
    // spark.sql.optimizer.runtimeFilter makes this same plan automatically
    // when thresholds allow; spelling it out pins the shape at any config.
    Q(
      "q_join_bloom",
      """SELECT l_returnflag, count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS revenue_micro
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 490000)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val hot = U.orders(s, d)
        .filter(col("o_totalprice") > 490000.0)
        .select(col("o_orderkey"))
      // BloomFilterAggregate / BloomFilterMightContain are the exact
      // expressions Spark's InjectRuntimeFilter rule plants — they are not
      // SQL-registered, so build the same shape directly: the bloom rides
      // a ScalarSubquery (might_contain requires a constant or scalar
      // subquery input), evaluated once and shipped to every scan task
      import org.apache.spark.sql.GraftShims
      import org.apache.spark.sql.catalyst.expressions.{Literal, ScalarSubquery}
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
      val bloomPlan = hot.agg(
        GraftShims.column(new BloomFilterAggregate(
          GraftShims.expression(xxhash64(col("o_orderkey"))),
          Literal(10000L),
          Literal(200000L)).toAggregateExpression()).as("bf"))
        .queryExecution.analyzed
      U.lineitem(s, d)
        .filter(GraftShims.column(BloomFilterMightContain(
          ScalarSubquery(bloomPlan),
          GraftShims.expression(xxhash64(col("l_orderkey"))))))
        .join(hot, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_lines"),
          U.dsumMicro(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue_micro"))
        .orderBy("l_returnflag")
    }
  )
}
