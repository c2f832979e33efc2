package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.{GraftSession, Tables}
import graft.operators.{AsOfJoin, Funnel}

/** Headline analytical queries — the extension surface SURVEY §2.5 marks as
  * absent from the reference (joins, windows, sorts/top-k, set ops, event-time
  * windows, sessionization, as-of join). These are also the bench workload.
  *
  * Money arithmetic is cast to DECIMAL(18,2) before summation on BOTH sides so
  * Spark and DuckDB aggregate exactly (double summation is order-dependent and
  * would flake the oracle hash).
  */
object Headline {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** TPC-H Q1-style pricing summary — the flagship scan+agg. Plan shape:
    * parquet scan with pushed filter + pruned columns → partial hash agg →
    * single exchange on (returnflag, linestatus) → final agg. Scales linearly.
    */
  val h1 = Q(
    "h1_pricing_summary",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("2000-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order")
        )
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
              count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
            GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")
  )

  /** TPC-H Q3-style 3-way join + agg + top-k. customer is the small side of
    * orders⋈customer (broadcast-able; AQE converts at runtime); the big
    * lineitem⋈orders join shuffles on the order key. Top-k is TakeOrdered —
    * no global sort materialization.
    */
  val h2 = Q(
    "h2_join_topk_revenue",
    (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"))
        .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
    Some("""SELECT o_orderkey, o_orderdate,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey LIMIT 10""")
  )

  /** Dimension-only broadcast join chain: supplier ⋈ nation ⋈ region. Both
    * dims are broadcast — zero shuffles for the joins, one for the agg.
    */
  val h3 = Q(
    "h3_broadcast_join",
    (s, d) =>
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"), sum(dec(col("s_acctbal"))).cast("double").as("total_bal"))
        .orderBy("r_name", "n_name"),
    Some("""SELECT r_name, n_name, count(*) AS n_suppliers,
              CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name ORDER BY r_name, n_name""")
  )

  /** Window function: top-2 orders per customer by totalprice (rank within
    * partition — one shuffle on the partition key, per-partition sort).
    */
  val h4 = Q(
    "h4_window_topn_per_key",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn").cast("long").as("rn"))
        .orderBy("o_custkey", "rn")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn""")
  )

  /** Global top-k: orderBy+limit compiles to TakeOrderedAndProject — each
    * partition keeps k rows, driver merges; no full sort at any scale.
    */
  val h5 = Q(
    "h5_global_topk",
    (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
    Some("""SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")
  )

  /** Set operation: customers that never ordered (anti-semantics via EXCEPT). */
  val h6 = Q(
    "h6_set_except",
    (s, d) =>
      Tables.customer(s, d).select(col("c_custkey"))
        .except(Tables.orders(s, d).select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey"),
    Some("""SELECT * FROM (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey AS c_custkey FROM orders)
            ORDER BY c_custkey""")
  )

  /** As-of join: latest order date per user at each event time (custom
    * operator via [[AsOfJoin.lookback]] — one shuffle, no per-key cross
    * product). Oracle uses DuckDB's native ASOF JOIN.
    */
  val h7 = Q(
    "h7_asof_join",
    (s, d) =>
      AsOfJoin
        .lookback(
          Tables.events(s, d), col("user_id"), col("ts"),
          Tables.orders(s, d), col("o_custkey"), col("o_orderdate"),
          col("o_orderdate"), "asof_orderdate"
        )
        .select(col("event_id"), col("user_id"), col("asof_orderdate").cast("timestamp_ntz").as("asof_orderdate"))
        .orderBy("event_id"),
    Some("""SELECT e.event_id, e.user_id, o.o_orderdate AS asof_orderdate
            FROM events e ASOF LEFT JOIN orders o
              ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
            ORDER BY e.event_id""")
  )

  /** Same as-of semantics as h7, but through the custom whole-operator plan
    * path: [[graft.plans.AsOfJoinPlan]] (logical) → AsOfJoinStrategy →
    * [[graft.plans.AsOfJoinExec]] (physical single-pass sort-merge, O(1)
    * state). Same DuckDB ASOF JOIN oracle — the two implementations must
    * agree bit-for-bit.
    */
  val h7b = Q(
    "h7b_asof_join_native",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts").cast("timestamp_ntz").as("ts"))
      val od = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate").cast("timestamp_ntz").as("o_time"))
      AsOfJoin.native(ev, "user_id", "ts", od, "o_custkey", "o_time")
        .select(col("event_id"), col("user_id"), col("o_time").as("asof_orderdate"))
        .orderBy("event_id")
    },
    Some("""SELECT e.event_id, e.user_id, o.o_orderdate AS asof_orderdate
            FROM events e ASOF LEFT JOIN orders o
              ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
            ORDER BY e.event_id""")
  )

  /** Forward as-of join through the native operator: for each event, the
    * EARLIEST order at-or-after the event time (merge_asof
    * direction="forward"). DuckDB oracles it with the inequality flipped —
    * `ASOF LEFT JOIN ... ON l.ts <= r.ts` selects the nearest future row.
    */
  val h7c = Q(
    "h7c_asof_join_forward",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts").cast("timestamp_ntz").as("ts"))
      val od = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate").cast("timestamp_ntz").as("o_time"))
      AsOfJoin.native(ev, "user_id", "ts", od, "o_custkey", "o_time", direction = "forward")
        .select(col("event_id"), col("user_id"), col("o_time").as("next_orderdate"))
        .orderBy("event_id")
    },
    Some("""SELECT e.event_id, e.user_id, o.o_orderdate AS next_orderdate
            FROM events e ASOF LEFT JOIN orders o
              ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
            ORDER BY e.event_id""")
  )

  /** Nearest as-of join through the native operator: the order closest in
    * absolute time to each event, exact ties resolving backward (merge_asof
    * direction="nearest"). Oracled by a least-abs-diff window query — DuckDB
    * ASOF can't express nearest, so the oracle materializes every
    * (event, same-user order) pair and keeps rank 1 by (|Δt|, earlier-first).
    */
  val h7d = Q(
    "h7d_asof_join_nearest",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts").cast("timestamp_ntz").as("ts"))
      val od = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate").cast("timestamp_ntz").as("o_time"))
      AsOfJoin.native(ev, "user_id", "ts", od, "o_custkey", "o_time", direction = "nearest")
        .select(col("event_id"), col("user_id"), col("o_time").as("nearest_orderdate"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, nearest_orderdate FROM (
              SELECT e.event_id, e.user_id, o.o_orderdate AS nearest_orderdate,
                row_number() OVER (PARTITION BY e.event_id
                  ORDER BY abs(epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(o.o_orderdate)) ASC,
                           o.o_orderdate ASC) AS rn
              FROM events e LEFT JOIN orders o ON e.user_id = o.o_custkey)
            WHERE rn = 1 ORDER BY event_id""")
  )

  /** Event-time tumbling window aggregate (batch view of the streaming
    * `groupBy(window($"ts"), ...)` — same grouping keys, date_trunc form so
    * the oracle can express it).
    */
  val h8 = Q(
    "h8_event_time_window",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("total_value"))
        .orderBy("hour", "event_type"),
    Some("""SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** Sessionization: 30-minute inactivity gap, lag+cumsum — the standard
    * scale-out formulation (one shuffle on user_id, two window passes, no
    * self-join).
    */
  val h9 = Q(
    "h9_sessionize",
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn(
          "new_session",
          when(col("prev_ts").isNull ||
                 unix_micros(col("ts").cast("timestamp")) - unix_micros(col("prev_ts").cast("timestamp")) > 1800000000L, 1)
            .otherwise(0)
        )
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
              SELECT user_id,
                CASE WHEN prev_ts IS NULL
                       OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(prev_ts AS TIMESTAMP)) > 1800000000 THEN 1 ELSE 0 END AS new_session
              FROM (SELECT user_id, ts, event_id,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                    FROM events))
            GROUP BY user_id ORDER BY user_id""")
  )

  /** Semi/anti joins (EXISTS / NOT EXISTS): customers with an error event vs
    * customers with no event activity at all. Both plan as hash joins with
    * early-out probing — no row multiplication.
    */
  val h10 = Q(
    "h10_semi_anti_join",
    (s, d) => {
      val customers = Tables.customer(s, d)
      val events    = Tables.events(s, d)
      val errUsers  = events.filter(col("event_type") === "error").select(col("user_id"))
      val withErr   = customers.join(errUsers, col("c_custkey") === col("user_id"), "left_semi")
        .select(col("c_custkey"), lit("has_error").as("status"))
      val noEvents  = customers.join(events.select(col("user_id")), col("c_custkey") === col("user_id"), "left_anti")
        .select(col("c_custkey"), lit("no_events").as("status"))
      withErr.unionByName(noEvents).orderBy("c_custkey", "status")
    },
    Some("""SELECT c_custkey, 'has_error' AS status FROM customer
            WHERE EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey AND event_type = 'error')
            UNION ALL
            SELECT c_custkey, 'no_events' AS status FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
            ORDER BY c_custkey, status""")
  )

  /** Grouping sets via ROLLUP: per (status, priority) plus per-status and
    * grand-total rows — one pass, expand+aggregate, no repeated scans.
    */
  val h11 = Q(
    "h11_rollup",
    (s, d) =>
      Tables.orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
  )

  /** LEFT OUTER join: every customer with their order count, zero included.
    * Aggregate-before-join: orders are pre-counted per key, so the outer
    * join moves |customers|+|keys| rows, never |orders| — Spark does not
    * push aggregates through joins, so this ordering is the author's job
    * and is THE difference at 100 TB. The oracle states the naive
    * join-then-group form; results are identical.
    */
  val h12 = Q(
    "h12_left_outer_join",
    (s, d) => {
      val perKey = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
      Tables.customer(s, d)
        .join(perKey, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), coalesce(col("cnt"), lit(0L)).as("n_orders"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, count(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey ORDER BY c_custkey""")
  )

  /** FULL OUTER join of two pre-aggregated key sets (order activity vs event
    * activity per user). Aggregating BEFORE the join keeps both sides one row
    * per key, so the full-outer shuffle joins |keys| rows, not |facts|.
    */
  val h13 = Q(
    "h13_full_outer_join",
    (s, d) => {
      val o = Tables.orders(s, d).groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_orders"))
      val e = Tables.events(s, d).groupBy(col("user_id").as("k")).agg(count(lit(1)).as("n_events"))
      o.join(e, Seq("k"), "full")
        .select(col("k"), col("n_orders"), col("n_events"))
        .orderBy("k")
    },
    Some("""WITH o AS (SELECT o_custkey AS k, count(*) AS n_orders FROM orders GROUP BY 1),
                 e AS (SELECT user_id AS k, count(*) AS n_events FROM events GROUP BY 1)
            SELECT COALESCE(o.k, e.k) AS k, o.n_orders, e.n_events
            FROM o FULL OUTER JOIN e ON o.k = e.k ORDER BY k""")
  )

  /** INTERSECT: users who both ordered and produced events. Plans as a
    * distinct + semi-join — no row multiplication.
    */
  val h14 = Q(
    "h14_intersect",
    (s, d) =>
      Tables.orders(s, d).select(col("o_custkey").as("k"))
        .intersect(Tables.events(s, d).select(col("user_id").as("k")))
        .orderBy("k"),
    Some("""SELECT * FROM (SELECT o_custkey AS k FROM orders INTERSECT SELECT user_id AS k FROM events)
            ORDER BY k""")
  )

  /** UNION (distinct): the combined key universe of both fact tables. */
  val h15 = Q(
    "h15_union",
    (s, d) =>
      Tables.orders(s, d).select(col("o_custkey").as("k"))
        .union(Tables.events(s, d).select(col("user_id").as("k")))
        .distinct()
        .orderBy("k"),
    Some("""SELECT * FROM (SELECT o_custkey AS k FROM orders UNION SELECT user_id AS k FROM events)
            ORDER BY k""")
  )

  /** TPC-H Q17-style correlated scalar subquery: revenue from small-quantity
    * orders, where "small" is relative to the part's own average. Written as
    * the correlated form through spark.sql — Catalyst decorrelates it into
    * the aggregate+join plan automatically (RewriteCorrelatedScalarSubquery),
    * which is exactly the hand-written scale plan. l_quantity is
    * integer-valued in this data, so double sums/avgs are exact and the
    * threshold comparison is bit-identical across engines.
    */
  val h16 = Q(
    "h16_correlated_subquery",
    (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("h16_lineitem")
      s.sql("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
               FROM h16_lineitem l1
               WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
                                   FROM h16_lineitem l2
                                   WHERE l2.l_partkey = l1.l_partkey)""")
    },
    Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
            FROM lineitem l1
            WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
                                FROM lineitem l2
                                WHERE l2.l_partkey = l1.l_partkey)""")
  )

  /** Native session-window sessionization (Spark's `session_window` — the
    * same operator the streaming bounded-state form uses), oracled against
    * the lag+cumsum formulation. Session semantics: windows are
    * [start, last+gap); an event at exactly last+gap starts a NEW session,
    * hence the `>= gap` in the oracle's new-session condition (h9's `> gap`
    * is a different, equally valid convention — kept distinct deliberately).
    */
  val h17 = Q(
    "h17_session_window",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          col("sw.start").cast("timestamp_ntz").as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start"),
    Some("""WITH ordered AS (
              SELECT user_id, ts, event_id,
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
              FROM events),
            marked AS (
              SELECT user_id, ts, event_id,
                CASE WHEN prev_ts IS NULL
                       OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(prev_ts AS TIMESTAMP)) >= 1800000000
                     THEN 1 ELSE 0 END AS new_s
              FROM ordered),
            sess AS (
              SELECT user_id, ts,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
              FROM marked)
            SELECT user_id, min(ts) AS session_start, count(*) AS n_events
            FROM sess GROUP BY user_id, sid
            ORDER BY user_id, session_start""")
  )

  /** CUBE: every subset of (status, priority) — the reporting companion to
    * h11's ROLLUP. Still one scan: the Expand operator replicates each input
    * row once per grouping set BEFORE the hash aggregate, so the cost is
    * 4×|rows| through one partial→final agg, not 4 separate scans. The
    * `grouping_id` column disambiguates a NULL data value from a NULL
    * produced by the cube (and gives the oracle a deterministic sort key).
    */
  val h18 = Q(
    "h18_cube",
    (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping_id().as("gid"),
          count(lit(1)).as("cnt"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .select(col("gid"), col("o_orderstatus"), col("o_orderpriority"), col("cnt"), col("total"))
        .orderBy(
          col("gid"),
          col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
    Some("""SELECT CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
              o_orderstatus, o_orderpriority, count(*) AS cnt,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
            ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
  )

  /** GROUPING SETS proper: an explicit, non-hierarchical set list — per
    * (status, priority) and per (status, year(orderdate)) in one pass. Not
    * expressible as ROLLUP or CUBE; exercises the general Expand path. The
    * DataFrame API reaches it through `spark.sql` — GROUPING SETS is
    * SQL-only surface in Spark, and the point of this engine is that SQL
    * and DataFrame forms compose against the same tables.
    */
  val h19 = Q(
    "h19_grouping_sets",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_gs")
      s.sql("""SELECT CAST(grouping_id() AS BIGINT) AS gid,
                 o_orderstatus, o_orderpriority,
                 CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 count(*) AS cnt
               FROM orders_gs
               GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus, year(o_orderdate)))
               ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST, o_year NULLS FIRST""")
    },
    Some("""SELECT CAST(grouping(o_orderstatus) * 4 + grouping(o_orderpriority) * 2
                     + grouping(year(o_orderdate)) AS BIGINT) AS gid,
              o_orderstatus, o_orderpriority,
              CAST(year(o_orderdate) AS BIGINT) AS o_year, count(*) AS cnt
            FROM orders GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus, year(o_orderdate)))
            ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST, o_year NULLS FIRST""")
  )

  /** PIVOT: status columns per priority row — the reshape every reporting
    * layer wants. Spark plans this as ONE grouped aggregate with conditional
    * counters (no per-status scans); pinning the pivot values (`F`,`O`,`P`)
    * keeps the schema static so the plan needs no driver-side distinct pass.
    */
  val h20 = Q(
    "h20_pivot",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(
          col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
              CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
              CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
              CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  )

  /** Interval (range) join with NO equi key: every event inside each
    * error-incident window, counted per window. The naive form is a
    * nested-loop join; [[graft.operators.IntervalJoin]] bucketizes the time
    * axis so it plans as an equi hash join + residual filter — the shape that
    * survives two big sides at 100 TB. The oracle states the naive theta-join
    * form; results are identical.
    */
  val h21 = Q(
    "h21_interval_join",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("event_type"))
      val windows = ev
        .filter(col("event_type") === "error" && col("event_id") % 50 === 0)
        .select(
          col("event_id").as("window_id"),
          col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 2 hours")).as("w_end"))
      graft.operators.IntervalJoin
        .pointInInterval(ev.select("event_id", "ts"), "ts", windows, "w_start", "w_end", bucketSeconds = 7200L)
        .groupBy(col("window_id"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy("window_id")
    },
    Some("""WITH w AS (
              SELECT event_id AS window_id, CAST(ts AS TIMESTAMP) AS w_start,
                     CAST(ts AS TIMESTAMP) + INTERVAL 2 HOUR AS w_end
              FROM events WHERE event_type = 'error' AND event_id % 50 = 0)
            SELECT window_id, count(*) AS n_events
            FROM w JOIN events e
              ON CAST(e.ts AS TIMESTAMP) >= w.w_start AND CAST(e.ts AS TIMESTAMP) < w.w_end
            GROUP BY window_id ORDER BY window_id""")
  )

  /** Funnel analysis: ordered step progression view → click → purchase per
    * user, with strict event-time ordering between steps (a click only
    * counts after the user's FIRST view; a purchase only after that first
    * qualifying click). The classic formulation self-joins the event log
    * once per step; [[graft.operators.Funnel.stepTimes]] instead chains
    * three whole-partition window mins over ONE hash exchange on user_id —
    * step k's window expression references step k-1's column, so Catalyst
    * stacks three WindowExecs on the same partitioning (the sort/exchange
    * is paid once) and the final per-user collapse reuses it too. Shuffle
    * volume = the event log, once, regardless of funnel depth. Conversion
    * lag is reported as an exact integer micros sum, so the row is
    * hash-stable cross-engine.
    */
  private val funnelSteps = Seq("view", "click", "purchase")

  val h22 = Q(
    "h22_funnel",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("tm"))
      Funnel.summary(Funnel.stepTimes(ev, funnelSteps), funnelSteps)
    },
    Some("""WITH m AS (
              SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tm FROM events),
            p1 AS (
              SELECT user_id, min(CASE WHEN event_type = 'view' THEN tm END) AS t1
              FROM m GROUP BY user_id),
            p2 AS (
              SELECT m.user_id, any_value(p.t1) AS t1,
                min(CASE WHEN m.event_type = 'click' AND m.tm > p.t1 THEN m.tm END) AS t2
              FROM m JOIN p1 p USING (user_id) GROUP BY m.user_id),
            p3 AS (
              SELECT m.user_id, any_value(p.t1) AS t1, any_value(p.t2) AS t2,
                min(CASE WHEN m.event_type = 'purchase' AND m.tm > p.t2 THEN m.tm END) AS t3
              FROM m JOIN p2 p USING (user_id) GROUP BY m.user_id)
            SELECT * FROM (
              SELECT 'view' AS step, count(t1) AS n_users, CAST(0 AS BIGINT) AS conv_us_total FROM p3
              UNION ALL
              SELECT 'view>click', count(t2),
                CAST(COALESCE(sum(t2 - t1) FILTER (WHERE t2 IS NOT NULL), 0) AS BIGINT) FROM p3
              UNION ALL
              SELECT 'view>click>purchase', count(t3),
                CAST(COALESCE(sum(t3 - t1) FILTER (WHERE t3 IS NOT NULL), 0) AS BIGINT) FROM p3)
            ORDER BY step""")
  )

  /** Cohort retention: users bucketed by first-activity day, retention
    * counted as distinct users active at each day offset from their cohort.
    * Shape: one whole-partition window min on user_id assigns cohorts (the
    * h22 exchange-reuse pattern), then (user, cohort, offset) distinct
    * collapses the log to ≤ users·days rows BEFORE the tiny
    * (cohort, offset) count — the corpus is never aggregated on the
    * low-cardinality matrix key directly, so one hot cohort day cannot
    * skew a reducer. Output is the days×days retention matrix.
    */
  val h23 = Q(
    "h23_cohort_retention",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
      Tables.events(s, d)
        .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
        .withColumn("cohort_day", min(col("day")).over(w))
        .select(
          col("user_id"),
          col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
        .distinct()
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    },
    Some("""WITH d AS (
              SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
              FROM events),
            c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id),
            a AS (
              SELECT DISTINCT d.user_id, c.cohort_day,
                CAST(d.day - c.cohort_day AS BIGINT) AS day_offset
              FROM d JOIN c USING (user_id))
            SELECT cohort_day, day_offset, count(*) AS n_users
            FROM a GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** Last-touch attribution: every purchase joined to the user's most
    * recent PRECEDING click via the native as-of operator
    * ([[graft.plans.AsOfJoinExec]]: one hash exchange per side, single-pass
    * sort-merge, O(1) state per key — no window materialization of the
    * touch log), then bounded to a 7-day lookback with an explicit
    * post-filter applied identically on both engines (purchases whose
    * latest click is older go unattributed, exactly like a
    * tolerance-bounded merge_asof). Revenue sums in DECIMAL, lag sums in
    * exact integer micros; per-day report so the output is a stable
    * ~30-row frame at any corpus size.
    */
  val h24 = Q(
    "h24_attribution",
    (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").cast("timestamp_ntz").as("ts"), col("value"))
      val touches = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("t_user"), col("ts").cast("timestamp_ntz").as("touch_ts"))
      val lagUs = unix_micros(col("ts").cast("timestamp")) -
        unix_micros(col("touch_ts").cast("timestamp"))
      AsOfJoin.native(purchases, "user_id", "ts", touches, "t_user", "touch_ts")
        .withColumn("attr", col("touch_ts").isNotNull && lagUs <= lit(7L * 86400L * 1000000L))
        .groupBy(date_trunc("day", col("ts")).cast("date").as("purchase_day"))
        .agg(
          count(lit(1)).as("n_purchases"),
          sum(when(col("attr"), 1L).otherwise(0L)).as("n_attributed"),
          coalesce(sum(when(col("attr"), dec(col("value")))).cast("double"), lit(0.0))
            .as("value_attributed"),
          coalesce(sum(when(col("attr"), lagUs)), lit(0L)).as("lag_us_total"))
        .orderBy("purchase_day")
    },
    Some("""WITH p AS (
              SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
              FROM events WHERE event_type = 'purchase'),
            t AS (
              SELECT user_id AS t_user, CAST(ts AS TIMESTAMP) AS touch_ts
              FROM events WHERE event_type = 'click'),
            j AS (
              SELECT p.ts, p.value, t.touch_ts,
                t.touch_ts IS NOT NULL AND
                  epoch_us(p.ts) - epoch_us(t.touch_ts) <= 604800000000 AS attr
              FROM p ASOF LEFT JOIN t
                ON p.user_id = t.t_user AND p.ts >= t.touch_ts)
            SELECT CAST(date_trunc('day', ts) AS DATE) AS purchase_day,
              count(*) AS n_purchases,
              CAST(COALESCE(sum(CASE WHEN attr THEN 1 END), 0) AS BIGINT) AS n_attributed,
              COALESCE(CAST(sum(CASE WHEN attr THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
                AS value_attributed,
              CAST(COALESCE(sum(CASE WHEN attr THEN epoch_us(ts) - epoch_us(touch_ts) END), 0) AS BIGINT)
                AS lag_us_total
            FROM j GROUP BY 1 ORDER BY 1""")
  )

  /** Trailing 7-day moving window over daily revenue: RANGE frame keyed on
    * the day ordinal (missing days genuinely absent from the frame, unlike a
    * ROWS frame). The corpus collapses to per-day partial aggregates FIRST —
    * the unpartitioned window then runs over a calendar-bounded frame
    * (days-in-corpus rows, ~30 here; never corpus-sized — the audited
    * bounded-window pattern), so the plan is one exchange for the daily agg
    * plus a single-task tail over the tiny series. Money stays DECIMAL
    * through the window sum and casts to double only at the edge.
    */
  val h25 = Q(
    "h25_moving_window",
    (s, d) => {
      val daily = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(sum(dec(col("value"))).as("rev"), count(lit(1)).as("n"))
      val w = Window.orderBy(col("day_idx")).rangeBetween(-6, 0)
      daily
        .withColumn("day_idx", unix_date(col("day")))
        .withColumn("trailing7_revenue", sum(col("rev")).over(w).cast("double"))
        .withColumn("trailing7_purchases", sum(col("n")).over(w))
        .select(
          col("day"), col("rev").cast("double").as("revenue"), col("n").as("n_purchases"),
          col("trailing7_revenue"), col("trailing7_purchases"))
        .orderBy("day")
    },
    Some("""WITH daily AS (
              SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                sum(CAST(value AS DECIMAL(18,2))) AS rev, count(*) AS n
              FROM events WHERE event_type = 'purchase' GROUP BY 1)
            SELECT day, CAST(rev AS DOUBLE) AS revenue, n AS n_purchases,
              CAST(sum(rev) OVER w AS DOUBLE) AS trailing7_revenue,
              CAST(sum(n) OVER w AS BIGINT) AS trailing7_purchases
            FROM daily
            WINDOW w AS (ORDER BY CAST(day - DATE '1970-01-01' AS BIGINT)
                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            ORDER BY day""")
  )

  /** Group-wise ordinary least squares (price vs quantity per return flag)
    * from the five classic sufficient statistics — n, Σx, Σy, Σxy, Σx² —
    * gathered in ONE map-side-combining aggregation over exact DECIMAL
    * arithmetic; slope/intercept are then two scalar double expressions
    * over the per-group row. This is the scale shape for ANY closed-form
    * model fit: the corpus is touched once, the shuffle carries 5 numbers
    * per group, and the "solve" is free. Cross-engine exactness: the sums
    * are exact decimals whose double conversions are value-identical, and
    * the slope/intercept expressions have the IDENTICAL IEEE shape on both
    * engines (the oracle deliberately spells the formula out rather than
    * calling DuckDB's regr_slope, whose internal accumulation differs).
    */
  val h26 = Q(
    "h26_regression",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val q  = dec(col("l_quantity"))
      val p  = dec(col("l_extendedprice"))
      val nD = col("n").cast("double")
      val sxD  = col("sx").cast("double")
      val syD  = col("sy").cast("double")
      val sxyD = col("sxy").cast("double")
      val sxxD = col("sxx").cast("double")
      li.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(q).as("sx"), sum(p).as("sy"),
          sum(q * p).as("sxy"), sum(q * q).as("sxx"))
        .withColumn("slope", (nD * sxyD - sxD * syD) / (nD * sxxD - sxD * sxD))
        .withColumn("intercept", (syD - col("slope") * sxD) / nD)
        .select(col("l_returnflag"), col("n"), col("slope"), col("intercept"))
        .orderBy("l_returnflag")
    },
    Some("""WITH a AS (
              SELECT l_returnflag, count(*) AS n,
                sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
                sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
                sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
                sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx
              FROM lineitem GROUP BY 1),
            b AS (
              SELECT l_returnflag, n, sx, sy,
                (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
              FROM a)
            SELECT l_returnflag, n, slope,
              (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
            FROM b ORDER BY l_returnflag""")
  )

  /** Markov transition matrix over the per-user event stream: for every
    * consecutive event pair (ordered by event time, event_id tie-break) count
    * `from_step → to_step` and report the per-source transition probability
    * as an exact integer ppm. Shape: ONE hash exchange on user_id feeds the
    * `lead` window (the h22 exchange pattern — depth doesn't matter, the log
    * shuffles once), the pair count is a partial→final hash agg, and the ppm
    * normalization windows over the COLLAPSED pair frame (≤ |event_types|²
    * rows — bounded, never corpus-sized). Integer floor division keeps the
    * row hash-stable cross-engine.
    */
  val h27 = Q(
    "h27_transition_matrix",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("tm"), col("event_id"))
      val wTot = Window.partitionBy(col("from_step"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("tm"))
        .withColumn("next_step", lead(col("event_type"), 1).over(w))
        .filter(col("next_step").isNotNull)
        .groupBy(col("event_type").as("from_step"), col("next_step").as("to_step"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p_ppm", expr("1000000 * n div sum(n) over (partition by from_step)"))
        .select(col("from_step"), col("to_step"), col("n"), col("p_ppm"))
        .orderBy("from_step", "to_step")
    },
    Some("""WITH m AS (
              SELECT user_id, event_id, event_type,
                epoch_us(CAST(ts AS TIMESTAMP)) AS tm FROM events),
            nx AS (
              SELECT event_type AS from_step,
                lead(event_type) OVER (PARTITION BY user_id ORDER BY tm, event_id) AS to_step
              FROM m),
            c AS (
              SELECT from_step, to_step, count(*) AS n
              FROM nx WHERE to_step IS NOT NULL GROUP BY 1, 2)
            SELECT from_step, to_step, n,
              CAST(1000000 * n // sum(n) OVER (PARTITION BY from_step) AS BIGINT) AS p_ppm
            FROM c ORDER BY from_step, to_step""")
  )

  /** Top user journeys: each user's first five events (event-time order,
    * event_id tie-break) joined into a `view>click>…` path string; the top
    * 20 paths by frequency. A row_number window caps each user at five rows
    * BEFORE the per-user collapse, so the collect state is ≤5 structs per
    * key by construction (a user with a million events still contributes
    * five rows) and the window + aggregation share ONE user_id exchange.
    * The final ranking is TakeOrderedAndProject over the collapsed
    * (path, count) frame: per-partition heaps, never a global sort.
    */
  val h28 = Q(
    "h28_top_paths",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("tm"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("tm"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy(col("user_id"))
        .agg(collect_list(struct(col("tm"), col("event_id"), col("event_type"))).as("evs"))
        .select(concat_ws(">",
          expr("transform(array_sort(evs), x -> x.event_type)")).as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
        .limit(20)
    },
    Some("""WITH m AS (
              SELECT user_id, event_id, event_type,
                epoch_us(CAST(ts AS TIMESTAMP)) AS tm FROM events),
            p AS (
              SELECT user_id,
                array_to_string(list(event_type ORDER BY tm, event_id)[1:5], '>') AS path
              FROM m GROUP BY user_id)
            SELECT path, count(*) AS n_users
            FROM p GROUP BY path
            ORDER BY n_users DESC, path LIMIT 20""")
  )

  /** h22 with a conversion window: clicks and purchases count only within
    * 24 h of the user's first view — the product-analytics "converted
    * within N" semantics every funnel tool defaults to. The bound is one
    * extra predicate on the already-present t0 column inside the same
    * chained-window plan ([[graft.operators.Funnel.stepTimesWithin]]), so a
    * depth-k windowed funnel still shuffles the log exactly once.
    */
  val h29 = Q(
    "h29_funnel_windowed",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("tm"))
      Funnel.summary(
        Funnel.stepTimesWithin(ev, funnelSteps, withinUs = 24L * 3600L * 1000000L),
        funnelSteps)
    },
    Some("""WITH m AS (
              SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tm FROM events),
            p1 AS (
              SELECT user_id, min(CASE WHEN event_type = 'view' THEN tm END) AS t1
              FROM m GROUP BY user_id),
            p2 AS (
              SELECT m.user_id, any_value(p.t1) AS t1,
                min(CASE WHEN m.event_type = 'click' AND m.tm > p.t1
                         AND m.tm <= p.t1 + 86400000000 THEN m.tm END) AS t2
              FROM m JOIN p1 p USING (user_id) GROUP BY m.user_id),
            p3 AS (
              SELECT m.user_id, any_value(p.t1) AS t1, any_value(p.t2) AS t2,
                min(CASE WHEN m.event_type = 'purchase' AND m.tm > p.t2
                         AND m.tm <= p.t1 + 86400000000 THEN m.tm END) AS t3
              FROM m JOIN p2 p USING (user_id) GROUP BY m.user_id)
            SELECT * FROM (
              SELECT 'view' AS step, count(t1) AS n_users, CAST(0 AS BIGINT) AS conv_us_total FROM p3
              UNION ALL
              SELECT 'view>click', count(t2),
                CAST(COALESCE(sum(t2 - t1) FILTER (WHERE t2 IS NOT NULL), 0) AS BIGINT) FROM p3
              UNION ALL
              SELECT 'view>click>purchase', count(t3),
                CAST(COALESCE(sum(t3 - t1) FILTER (WHERE t3 IS NOT NULL), 0) AS BIGINT) FROM p3)
            ORDER BY step""")
  )

  /** Bitmap-rollup distinct counting — the Druid/ClickHouse warehouse trick:
    * users pack into per-(day, bucket) 63-bit masks via `bit_or`, daily
    * actives are popcount sums, and the trailing-7-day actives come from
    * OR-ing the SAME daily bitmaps (a bucket-partitioned RANGE window) —
    * any date-range distinct count is answerable from the daily bitmap
    * table WITHOUT rescanning raw events. The dense day×bucket grid is
    * |days| × |users|/63 rows (64× smaller than the distinct (day, user)
    * frame); the exact count_distinct rides along as an in-row witness that
    * the bitmap path is exact, not approximate. 63-bit slots: DuckDB
    * refuses the 1<<63 BIGINT overflow Spark would wrap silently, so both
    * engines stay in defined-behavior territory.
    */
  val h30 = Q(
    "x_bitmap_distinct",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(date_trunc("day", col("ts")).cast("date").as("day"), col("user_id"))
      val daily = e
        .groupBy(col("day"), expr("user_id div 63").as("bucket"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT)))").as("mask"))
      val days    = daily.select(col("day")).distinct()
      val buckets = daily.select(col("bucket")).distinct()
      val dense = buckets.crossJoin(broadcast(days))
        .join(daily, Seq("day", "bucket"), "left")
        .select(col("day"), col("bucket"), coalesce(col("mask"), lit(0L)).as("mask"))
      val w = Window.partitionBy(col("bucket")).orderBy(col("day_idx")).rangeBetween(-6, 0)
      val rolled = dense
        .withColumn("day_idx", unix_date(col("day")))
        .withColumn("wmask", expr("bit_or(mask)").over(w))
      val agg = rolled.groupBy(col("day"))
        .agg(
          sum(expr("bit_count(mask)")).cast("long").as("dau_bitmap"),
          sum(expr("bit_count(wmask)")).cast("long").as("wau_bitmap"))
      val exact = e.groupBy(col("day")).agg(count_distinct(col("user_id")).as("dau_exact"))
      agg.join(exact, Seq("day"))
        .select(col("day"), col("dau_bitmap"), col("dau_exact"), col("wau_bitmap"))
        .orderBy("day")
    },
    Some("""WITH e AS (
              SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day, user_id
              FROM events),
            daily AS (
              SELECT day, user_id // 63 AS bucket,
                bit_or((1::BIGINT) << CAST(user_id % 63 AS INT)) AS mask
              FROM e GROUP BY 1, 2),
            days AS (SELECT DISTINCT day FROM daily),
            buckets AS (SELECT DISTINCT bucket FROM daily),
            dense AS (
              SELECT d.day, b.bucket, COALESCE(daily.mask, 0) AS mask
              FROM days d CROSS JOIN buckets b
              LEFT JOIN daily ON d.day = daily.day AND b.bucket = daily.bucket),
            rolled AS (
              SELECT day, mask, bit_or(mask) OVER (PARTITION BY bucket
                ORDER BY CAST(day - DATE '1970-01-01' AS BIGINT)
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS wmask
              FROM dense),
            agg AS (
              SELECT day, CAST(sum(bit_count(mask)) AS BIGINT) AS dau_bitmap,
                CAST(sum(bit_count(wmask)) AS BIGINT) AS wau_bitmap
              FROM rolled GROUP BY 1),
            ex AS (SELECT day, count(DISTINCT user_id) AS dau_exact FROM e GROUP BY 1)
            SELECT agg.day, dau_bitmap, dau_exact, wau_bitmap
            FROM agg JOIN ex USING (day) ORDER BY day""")
  )

  /** Sessionized funnel — the third member of the funnel trilogy (h22
    * lifetime, h29 conversion-window): steps must complete within the SAME
    * gap-delimited session. Sessions materialize from one lag+cumulative-sum
    * pass over the user_id exchange (12 h gap), then the identical chained
    * step-min recipe runs per (user, session) key — two exchanges total,
    * the second keyed on a refinement of the first, regardless of funnel
    * depth. Counts are per SESSION (a user converts once per qualifying
    * burst), which is what product analytics actually reports.
    */
  val h31 = Q(
    "h31_funnel_sessionized",
    (s, d) => {
      val gapUs = 12L * 3600L * 1000000L
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("tm"), col("event_id"))
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("tm"))
        .withColumn("brk",
          when(lag(col("tm"), 1).over(wOrd).isNull ||
            col("tm") - lag(col("tm"), 1).over(wOrd) > gapUs, 1L).otherwise(0L))
        .withColumn("sid", sum(col("brk"))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("user_id"), col("sid"), col("event_type"), col("tm"))
      Funnel.summary(
        Funnel.stepTimesKeyed(ev,
          funnelSteps.map(st => st -> (col("event_type") === st)),
          keyCols = Seq("user_id", "sid")),
        funnelSteps)
        .withColumnRenamed("n_users", "n_sessions")
    },
    Some("""WITH m AS (
              SELECT user_id, event_id, event_type,
                epoch_us(CAST(ts AS TIMESTAMP)) AS tm FROM events),
            s AS (
              SELECT *, CASE WHEN lag(tm) OVER w IS NULL
                  OR tm - lag(tm) OVER w > 43200000000 THEN 1 ELSE 0 END AS brk
              FROM m WINDOW w AS (PARTITION BY user_id ORDER BY tm, event_id)),
            sess AS (
              SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tm, event_id
                ROWS UNBOUNDED PRECEDING) AS sid FROM s),
            k AS (SELECT CAST(user_id AS VARCHAR) || '#' || CAST(sid AS VARCHAR) AS sk,
                    event_type, tm FROM sess),
            p1 AS (
              SELECT sk, min(CASE WHEN event_type = 'view' THEN tm END) AS t1
              FROM k GROUP BY sk),
            p2 AS (
              SELECT k.sk, any_value(p.t1) AS t1,
                min(CASE WHEN k.event_type = 'click' AND k.tm > p.t1 THEN k.tm END) AS t2
              FROM k JOIN p1 p USING (sk) GROUP BY k.sk),
            p3 AS (
              SELECT k.sk, any_value(p.t1) AS t1, any_value(p.t2) AS t2,
                min(CASE WHEN k.event_type = 'purchase' AND k.tm > p.t2 THEN k.tm END) AS t3
              FROM k JOIN p2 p USING (sk) GROUP BY k.sk)
            SELECT * FROM (
              SELECT 'view' AS step, count(t1) AS n_sessions,
                CAST(0 AS BIGINT) AS conv_us_total FROM p3
              UNION ALL
              SELECT 'view>click', count(t2),
                CAST(COALESCE(sum(t2 - t1) FILTER (WHERE t2 IS NOT NULL), 0) AS BIGINT) FROM p3
              UNION ALL
              SELECT 'view>click>purchase', count(t3),
                CAST(COALESCE(sum(t3 - t1) FILTER (WHERE t3 IS NOT NULL), 0) AS BIGINT) FROM p3)
            ORDER BY step""")
  )

  /** SALTED skew join — the mitigation for the join every warehouse dreads:
    * a shuffle join whose key cardinality (~suppliers) is far below cluster
    * parallelism, so each reducer inherits one enormous key group. The fact
    * side salts its join key (`l_orderkey % 8` — uniform, key-independent),
    * the dim side replicates each row across all 8 salt values (dim × 8 is
    * the whole cost — trivial against the fact skew it removes), and the
    * join runs on (suppkey, salt): every hot supplier now spreads over 8
    * reducers. The `merge` hint models the scenario (a dim too big to
    * broadcast — at 100 TB supplier-scale dims often are); with broadcast
    * available, AQE would simply take it and salting is moot. Semantically
    * the salt is invisible: the oracle is the PLAIN join + aggregate, and
    * salted == plain is exactly what the hash verifies. Revenue in the
    * exact DECIMAL(18,2) arithmetic of [[h1]]/[[h2]].
    *
    * Scale: same technique as `u2_wordcount_salted`'s two-phase aggregate,
    * applied to the join operator; AQE's skew-join split handles the
    * same class adaptively, this is the explicit, planner-independent form.
    */
  val h32 = Q(
    "h32_salted_skew_join",
    (s, d) => {
      val R = 8
      val fact = Tables.lineitem(s, d)
        .select(col("l_suppkey"),
          (dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))).as("rev"),
          pmod(col("l_orderkey"), lit(R)).as("salt"))
      val dim = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey").cast("long").as("s_nationkey"))
        .withColumn("salt", explode(array((0 until R).map(lit(_)): _*)))
      fact.join(dim.hint("merge"),
          fact("l_suppkey") === dim("s_suppkey") && fact("salt") === dim("salt"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), sum(col("rev")).cast("double").as("revenue"))
        .orderBy("s_nationkey")
    },
    Some("""SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, count(*) AS n,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_nationkey ORDER BY s_nationkey""")
  )

  /** BUCKETED co-located join — the other half of the skew story [[h32]]
    * tells: instead of spreading a hot shuffle, eliminate the shuffle
    * entirely. Both tables are written ONCE bucketed (and sorted) by the
    * join key into 8 compatible buckets (`bucketBy` — Spark's Murmur3 bucket
    * id, the same hash `repartition` uses, so the pre-write repartition
    * lands exactly one file per bucket); every subsequent join on that key
    * reads bucket i against bucket i with NO Exchange on either side — the
    * layout cost is paid once at write, then a 100 TB fact⋈fact join ships
    * zero bytes. This is the registry's only join whose SortMergeJoin has
    * scan-fed (exchange-free) children; PlanSpec pins exactly one Exchange
    * in the whole plan (the final aggregation's) and a bucketed scan.
    * Bucketing is layout, not semantics: the oracle is the plain join +
    * aggregate over the SAME written files, which is also what makes the
    * written artifact engine-portable.
    */
  val h33 = Q(
    "h33_bucketed_join",
    (s, d) => {
      val base = "/tmp/graft_gov/bucketed"
      s.sql("DROP TABLE IF EXISTS graft_bucket_orders")
      s.sql("DROP TABLE IF EXISTS graft_bucket_lineitem")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/orders").saveAsTable("graft_bucket_orders")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/lineitem").saveAsTable("graft_bucket_lineitem")
      val o = s.table("graft_bucket_orders")
      val l = s.table("graft_bucket_lineitem")
      o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))).cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM read_parquet('/tmp/graft_gov/bucketed/orders/*.parquet') o
            JOIN read_parquet('/tmp/graft_gov/bucketed/lineitem/*.parquet') l
              ON o.o_orderkey = l.l_orderkey
            GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  )

  /** RUNTIME Bloom-filter join pruning — the row-level complement to
    * [[graft.queries.Governance]]'s partition-level DPP: when a shuffle join's
    * build side carries a selective filter, Catalyst's `InjectRuntimeFilter`
    * plants a Bloom filter built from the filtered dim keys as a
    * `bloom_filter_might_contain` predicate on the FACT side, so non-matching
    * fact rows die at (or near) the scan instead of riding the shuffle to the
    * join. At 100 TB this is the difference between shuffling the whole fact
    * table and shuffling the ~1/25th that can possibly match a
    * priority+year-filtered orders dim. The `merge` hint models the
    * too-big-to-broadcast dim (with broadcast available the filter is moot —
    * same scenario doctrine as [[h32]]); the application-side size threshold
    * (default 10 GB — cluster-sized) is lowered in a CHILD session
    * ([[graft.GraftSession.child]]: shared context, isolated conf, so no
    * other registry query's plan changes), and planning is forced while
    * those confs hold. The child is memoized per parent session: Spark keys
    * its codegen cache by session classloader, so a fresh child per run
    * would recompile every generated class of this plan (~20) each time.
    * The Bloom filter is a may-contain superset, semantically invisible —
    * the oracle is the PLAIN join + aggregate, exactly what the hash checks.
    * PlanSpec pins `bloom_filter_might_contain` on the fact side.
    */
  val h34 = Q(
    "h34_runtime_bloom_join",
    (s, d) => {
      // Stats-less parquet relations estimate large: raise the creation-side
      // cap so the FILTERED dim qualifies at test scale (at real scale CBO
      // stats make the default 10 MB gate meaningful), and take broadcast off
      // the table the way the modeled scenario (dim >> driver memory) would.
      val s2 = GraftSession.child(s, Map(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1"))
      val fact = Tables.lineitem(s2, d)
        .select(col("l_orderkey"), col("l_returnflag"),
          (dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))).as("rev"))
      val dim = Tables.orders(s2, d)
        .filter(col("o_orderpriority") === "1-URGENT" && year(col("o_orderdate")) === 1995)
        .select(col("o_orderkey"))
      val out = fact.join(dim.hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("rev")).cast("double").as("revenue"))
        .orderBy("l_returnflag")
      // Force optimization NOW, while this child session's thresholds hold —
      // QueryExecution is cached on the frame, so later actions reuse it.
      out.queryExecution.executedPlan
      out
    },
    Some("""SELECT l_returnflag, count(*) AS n,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1995
            GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  val qs: Seq[Q] = Seq(h1, h2, h3, h4, h5, h6, h7, h7b, h7c, h7d, h8, h9, h10, h11, h12, h13,
    h14, h15, h16, h17, h18, h19, h20, h21, h22, h23, h24, h25, h26, h27, h28, h29, h30, h31,
    h32, h33, h34)
}
