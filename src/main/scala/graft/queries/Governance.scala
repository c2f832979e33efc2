package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.Layout.LineageOps
import graft.sources.Storage

/** Round-12 family: data-governance and table-maintenance shapes — the
  * checks and reshapes a 100 TB lakehouse runs beside its query traffic:
  * k-anonymity/l-diversity privacy audits, schema-evolution reads across
  * heterogeneous parquet snapshots, metric unpivot for monitoring sinks, and
  * EWMA drift/anomaly tracking over per-key daily series.
  */
object Governance {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** k-anonymity / l-diversity audit (Sweeney; Machanavajjhala): group the
    * table by its quasi-identifiers (nation, market segment) and measure
    * each equivalence class's size (k) and its sensitive-attribute diversity
    * (l = distinct $1000 account-balance buckets). Classes with n < 5 are
    * re-identification risks; classes with < 3 distinct sensitive buckets
    * leak the attribute even when k holds. Bucketing is integer-exact:
    * cents cast to BIGINT then truncating-divided (Spark `div` == DuckDB
    * `//`), so negative balances bucket identically in both engines.
    *
    * Scale: one hash-aggregate exchange on the quasi-identifier key; the
    * distinct-bucket count is a two-phase partial aggregate — no row ever
    * leaves its executor unaggregated.
    */
  val kAnonymity = Q(
    "x_k_anonymity",
    (s, d) =>
      Tables.customer(s, d)
        .select(col("c_nationkey").cast("long").as("nation"), col("c_mktsegment").as("segment"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000").as("bal_bucket"))
        .groupBy(col("nation"), col("segment"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("bal_bucket")).as("n_buckets"))
        .select(col("nation"), col("segment"), col("n"), col("n_buckets"),
          when(col("n") >= 5, 1L).otherwise(0L).as("is_k_anon"),
          when(col("n_buckets") >= 3, 1L).otherwise(0L).as("is_l_diverse"))
        .orderBy("nation", "segment"),
    Some("""SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
              count(*) AS n,
              CAST(count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT) // 100000) AS BIGINT) AS n_buckets,
              CAST(CASE WHEN count(*) >= 5 THEN 1 ELSE 0 END AS BIGINT) AS is_k_anon,
              CAST(CASE WHEN count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT) // 100000) >= 3
                        THEN 1 ELSE 0 END AS BIGINT) AS is_l_diverse
            FROM customer GROUP BY nation, segment ORDER BY nation, segment""")
  )

  private val SchemaBase = "/tmp/graft_gov"

  /** Schema-evolution read — the lakehouse reality that yesterday's files
    * lack today's columns: two parquet snapshots are written with DIFFERENT
    * schemas (v2 adds `l_discount`), then read back as ONE table via Spark's
    * `mergeSchema` (missing columns null-fill). The aggregate separates
    * migrated from legacy rows (`n_v2` counts non-null discounts), so a
    * wrong fill or dropped column breaks the hash. The oracle replays the
    * merged read with DuckDB's `union_by_name` over the SAME written files —
    * both engines' schema-merge semantics verified against each other.
    *
    * Scale: schema merge is a footer-level operation (per-file metadata
    * union, no data rewrite) — exactly how a 100 TB table evolves without a
    * backfill; the read stays partition-parallel with pruning intact.
    */
  val schemaEvolution = Q(
    "x_schema_evolution",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      li.filter(col("l_orderkey") % 2 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
        .write.mode("overwrite").parquet(s"$SchemaBase/schema_v1")
      li.filter(col("l_orderkey") % 2 === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"), col("l_discount"))
        .write.mode("overwrite").parquet(s"$SchemaBase/schema_v2")
      // inferred on purpose: the footer-level schema merge is what this
      // query checks against DuckDB's union_by_name
      s.read.option("mergeSchema", "true")
        .parquet(s"$SchemaBase/schema_v1", s"$SchemaBase/schema_v2")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          count(col("l_discount")).as("n_v2"),
          sum(dec(col("l_discount"))).cast("double").as("sum_disc"))
        .orderBy("l_returnflag")
    },
    Some(s"""SELECT l_returnflag, count(*) AS n,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              count(l_discount) AS n_v2,
              CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
            FROM read_parquet(['$SchemaBase/schema_v1/*.parquet',
                               '$SchemaBase/schema_v2/*.parquet'], union_by_name=true)
            GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** Metric UNPIVOT (melt) — the wide-to-long reshape that feeds monitoring
    * and metrics sinks: per-flag aggregates become (entity, metric, value)
    * rows via Spark's native `unpivot` operator. Values are integer cents so
    * the melt is bit-exact; the oracle is the semantically-equivalent
    * UNION-ALL expansion.
    *
    * Scale: unpivot is a row-local Expand (each input row emits one row per
    * metric, no shuffle) on top of the one aggregation exchange.
    */
  val unpivotMetrics = Q(
    "x_unpivot",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")).as("qty_cents"),
          sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("price_cents"),
          sum(expr("CAST(round(l_discount * 100) AS BIGINT)")).as("disc_cents"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("qty_cents"), col("price_cents"), col("disc_cents")),
          "metric", "value_cents")
        .orderBy("l_returnflag", "metric"),
    Some("""WITH a AS (
              SELECT l_returnflag,
                CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
                CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS disc_cents
              FROM lineitem GROUP BY l_returnflag)
            SELECT l_returnflag, metric, value_cents FROM (
              SELECT l_returnflag, 'qty_cents' AS metric, qty_cents AS value_cents FROM a
              UNION ALL
              SELECT l_returnflag, 'price_cents', price_cents FROM a
              UNION ALL
              SELECT l_returnflag, 'disc_cents', disc_cents FROM a)
            ORDER BY l_returnflag, metric""")
  )

  /** EWMA drift/anomaly tracking over per-priority daily order counts — the
    * streaming-monitor recurrence e_t = (4·e_{t-1} + 1000·x_t) / 5 (α = 0.2
    * in milli-units, truncating integer division — bit-exact, no float
    * accumulation drift), flagging days that spike above 2× or drop below
    * 0.5× the running mean. The recurrence is inherently sequential per
    * series, so it runs as a typed per-key fold (`flatMapGroups` — the SCD2/
    * funnel state-machine discipline): state is ONE long per key, series
    * length is bounded by the calendar, and keys scale out by partition.
    * The oracle replays the recurrence as a recursive CTE over the same
    * day-indexed series.
    */
  val ewmaAnomaly = Q(
    "x_ewma_anomaly",
    (s, d) => {
      import s.implicits._
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("priority"),
          to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"))
      daily
        .select(col("priority"), col("day").cast("string"), col("n"))
        .as[(String, String, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (p, it) =>
          val series = it.toArray.sortBy(_._2) // one bounded calendar series
          var e      = 0L
          series.iterator.zipWithIndex.map { case ((_, day, n), i) =>
            val anom =
              if (i == 0) 0L
              else if (1000 * n > 2 * e || 2000 * n < e) 1L
              else 0L
            e = if (i == 0) 1000 * n else (4 * e + 1000 * n) / 5
            (p, day, n, e, anom)
          }
        }
        .toDF("priority", "day", "n", "ewma_milli", "is_anomaly")
        .select(col("priority"), col("day").cast("date").as("day"), col("n"),
          col("ewma_milli"), col("is_anomaly"))
        .orderBy("priority", "day")
    },
    Some("""WITH RECURSIVE base AS (
              SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
                count(*) AS n,
                row_number() OVER (PARTITION BY o_orderpriority
                  ORDER BY CAST(o_orderdate AS DATE)) AS rn
              FROM orders GROUP BY 1, 2),
            rec AS (
              SELECT priority, day, n, rn,
                CAST(1000 * n AS BIGINT) AS e, CAST(0 AS BIGINT) AS anom
              FROM base WHERE rn = 1
              UNION ALL
              SELECT b.priority, b.day, b.n, b.rn,
                (4 * r.e + 1000 * b.n) // 5,
                CAST(CASE WHEN 1000 * b.n > 2 * r.e OR 2000 * b.n < r.e
                          THEN 1 ELSE 0 END AS BIGINT)
              FROM rec r JOIN base b ON b.priority = r.priority AND b.rn = r.rn + 1)
            SELECT priority, day, n, e AS ewma_milli, anom AS is_anomaly
            FROM rec ORDER BY priority, day""")
  )

  /** Holt DOUBLE exponential smoothing (level + trend) over the same
    * per-priority daily series as [[ewmaAnomaly]] — the forecasting
    * recurrence a capacity planner runs where plain EWMA lags trending
    * series: l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1}),
    * b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}, one-step forecast l_t + b_t.
    * α = 0.2, β = 0.1 in milli-units with TRUNCATING integer division
    * (Scala `/` == DuckDB `//`, verified on negatives — the trend term goes
    * negative on declining series), so the fold is bit-exact with no float
    * drift. Same execution shape as EWMA: inherently sequential per series
    * → typed per-key fold, state TWO longs per key, series bounded by the
    * calendar, keys scale out by partition. Oracle: recursive CTE carrying
    * both state variables.
    */
  val holtWinters = Q(
    "x_holt_winters",
    (s, d) => {
      import s.implicits._
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("priority"),
          to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"))
      daily
        .select(col("priority"), col("day").cast("string"), col("n"))
        .as[(String, String, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (p, it) =>
          val series = it.toArray.sortBy(_._2)
          var l = 0L
          var b = 0L
          series.iterator.zipWithIndex.map { case ((_, day, n), i) =>
            if (i == 0) { l = 1000 * n; b = 0L }
            else {
              val lPrev = l
              l = (200 * (1000 * n) + 800 * (l + b)) / 1000
              b = (100 * (l - lPrev) + 900 * b) / 1000
            }
            (p, day, n, l, b, l + b)
          }
        }
        .toDF("priority", "day", "n", "level_milli", "trend_milli", "forecast_milli")
        .select(col("priority"), col("day").cast("date").as("day"), col("n"),
          col("level_milli"), col("trend_milli"), col("forecast_milli"))
        .orderBy("priority", "day")
    },
    Some("""WITH RECURSIVE base AS (
              SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
                count(*) AS n,
                row_number() OVER (PARTITION BY o_orderpriority
                  ORDER BY CAST(o_orderdate AS DATE)) AS rn
              FROM orders GROUP BY 1, 2),
            rec AS (
              SELECT priority, day, n, rn,
                CAST(1000 * n AS BIGINT) AS l, CAST(0 AS BIGINT) AS b
              FROM base WHERE rn = 1
              UNION ALL
              SELECT x.priority, x.day, x.n, x.rn,
                (200 * (1000 * x.n) + 800 * (r.l + r.b)) // 1000,
                (100 * ((200 * (1000 * x.n) + 800 * (r.l + r.b)) // 1000 - r.l) + 900 * r.b) // 1000
              FROM rec r JOIN base x ON x.priority = r.priority AND x.rn = r.rn + 1)
            SELECT priority, day, n, l AS level_milli, b AS trend_milli,
              l + b AS forecast_milli
            FROM rec ORDER BY priority, day""")
  )

  /** Exact grouped percentiles via ANSI `PERCENTILE_CONT … WITHIN GROUP`
    * (linear interpolation; DuckDB's `quantile_cont` is the identical
    * definition) over integer cents — interpolated values land on .0/.5
    * exactly, so the doubles hash bit-equal. Spark plans ordered-set
    * aggregates as a per-group sort-aggregate — one exchange on the group
    * key, no global sort; at 100 TB the exact form holds while group
    * cardinality × values fits the agg buffer, after which
    * `approx_percentile` (t-digest) swaps in behind the same column names.
    */
  val groupedPercentiles = Q(
    "x_grouped_percentiles",
    (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          expr("CAST(round(l_quantity * 100) AS BIGINT)").as("cents"))
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY cents)").as("median_cents"),
          expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY cents)").as("p90_cents"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
              quantile_cont(CAST(round(l_quantity * 100) AS BIGINT), 0.5) AS median_cents,
              quantile_cont(CAST(round(l_quantity * 100) AS BIGINT), 0.9) AS p90_cents,
              count(*) AS n
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** Gaps-and-islands over per-order line sequences — the completeness audit
    * of sequenced ingest (missing line numbers = dropped records): delete a
    * deterministic subset (l_linenumber ≡ orderkey mod 7 — replayable), then
    * find each order's contiguous RUNS via the classic rn-difference trick
    * (l_linenumber − row_number() is constant within an island). Output is
    * per-island rows for the orders that HAVE gaps (bounded: islands ≥ 2
    * means at least one interior line vanished).
    *
    * Scale: one window partitioned by l_orderkey (millions of small
    * partitions — the healthy window shape, the opposite of the x_sorted
    * _neighborhood trap), then a per-order aggregate on the same exchange.
    */
  val gapsIslands = Q(
    "x_gaps_islands",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // distinct first: the synthetic lineitem carries duplicate
      // (orderkey, linenumber) rows, and sequence presence is a set property
      val kept = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"))
        .filter(col("l_linenumber") =!= pmod(col("l_orderkey"), lit(7)))
        .distinct()
      val isl = kept
        .withColumn("grp",
          col("l_linenumber") - row_number().over(
            Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))))
        .groupBy(col("l_orderkey"), col("grp"))
        .agg(min(col("l_linenumber")).as("island_start"),
          max(col("l_linenumber")).as("island_end"),
          count(lit(1)).as("island_len"))
      // gap orders via a per-order count window over the island frame — one
      // pass; the previous aggregate + self-join re-derived the whole island
      // computation (scan + distinct + window) a second time for its right
      // side. Same rows: n_islands ≥ 2 ⟺ the order appeared in gappy.
      isl
        .withColumn("n_islands",
          count(lit(1)).over(Window.partitionBy(col("l_orderkey"))))
        .filter(col("n_islands") >= 2)
        .select(col("l_orderkey"),
          col("island_start").cast("long").as("island_start"),
          col("island_end").cast("long").as("island_end"),
          col("island_len"))
        .orderBy("l_orderkey", "island_start")
    },
    Some("""WITH kept AS (
              SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
              WHERE l_linenumber <> l_orderkey % 7),
            isl AS (
              SELECT l_orderkey,
                l_linenumber - row_number() OVER (
                  PARTITION BY l_orderkey ORDER BY l_linenumber) AS grp,
                l_linenumber
              FROM kept),
            runs AS (
              SELECT l_orderkey, grp,
                CAST(min(l_linenumber) AS BIGINT) AS island_start,
                CAST(max(l_linenumber) AS BIGINT) AS island_end,
                count(*) AS island_len
              FROM isl GROUP BY 1, 2),
            gappy AS (
              SELECT l_orderkey FROM runs GROUP BY 1 HAVING count(*) >= 2)
            SELECT r.l_orderkey, r.island_start, r.island_end, r.island_len
            FROM runs r JOIN gappy USING (l_orderkey)
            ORDER BY r.l_orderkey, r.island_start""")
  )

  /** Equi-DEPTH histogram (the optimizer-statistics / data-profiling
    * staple — equal mass per bucket, unlike [[Extensions]]' equi-width
    * x_histogram). Boundary estimation is SAMPLED with a BOUNDED sample:
    * the systematic-sample divisor derives from the row count by pure
    * integer arithmetic — `max(16, n div 1_000_000)` — so the decile
    * `PERCENTILE_CONT` never sees more than ~2M values at ANY corpus size
    * (a fixed RATE would re-grow the single-group sort state linearly —
    * the r12 plan-audit bottleneck in new clothes; a fixed SIZE caps it).
    * The divisor formula is replayed by the oracle in SQL (`GREATEST(16,
    * count(*) // 1000000)` — both engines truncate), and the sample
    * predicate `l_orderkey % divisor = 0` is exact integer arithmetic, so
    * the estimated boundaries are bit-equal across engines. Per-bucket
    * counts are then EXACT over the full data: an in-row scan against the
    * broadcast 9-value boundary array, right-closed buckets (`v ≤ b_i`)
    * matching the SQL replay's first-true scan.
    *
    * Scale: one metadata-fast count, one bounded-state (≤2M values)
    * sort-agg for the boundaries, one broadcast of 9 doubles, one map-side
    * bucket assignment + partial→final hash agg (PlanSpec pins it) — no
    * global sort of the data, no agg state that grows with the corpus.
    */
  val equidepthHistogram = Q(
    "x_equidepth_histogram",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))
      val divisor = math.max(16L, li.count() / 1000000L)
      val bounds = li.filter(col("l_orderkey") % divisor === 0)
        .agg(
          expr("percentile_cont(array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)) WITHIN GROUP (ORDER BY v)")
            .as("bs"))
      li.crossJoin(broadcast(bounds))
        .select(coalesce(
          expr("CAST(array_position(transform(bs, b -> v <= b), true) AS BIGINT)"),
          lit(10L)).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    },
    Some("""WITH c AS (SELECT l_orderkey, CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
            dv AS (SELECT GREATEST(16, count(*) // 1000000) AS d FROM c),
            b AS (SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
                  FROM c, dv WHERE l_orderkey % dv.d = 0)
            SELECT bucket, count(*) AS n FROM (
              SELECT CAST(COALESCE(list_position(list_transform(b.bs, x -> v <= x), true), 10) AS BIGINT) AS bucket
              FROM c, b)
            GROUP BY bucket ORDER BY bucket""")
  )

  /** Dynamic partition pruning — the scan-elimination mechanism that makes
    * a date-partitioned 100 TB fact table affordable to join: the fact is
    * written ONCE hive-partitioned by ship month (the layout every lakehouse
    * fact table uses), and a join against a runtime-FILTERED month dimension
    * (urgent 1995 orders) lets Catalyst inject the dim's join keys into the
    * fact scan's PartitionFilters as a dynamic pruning subquery — ~12 of ~80
    * month directories are read, decided at RUNTIME, not by a literal
    * predicate. PlanSpec pins `dynamicpruning` in the fact scan. The oracle
    * replays the join over `read_parquet(hive_partitioning)` of the same
    * files — pruning is pure execution strategy, invisible to semantics.
    *
    * Scale: partition pruning composes with the bucketing of
    * `h33_bucketed_join` and the zonemap/bloom skipping family — dirs are
    * eliminated before tasks are scheduled, so the 100 TB scan cost is
    * proportional to the months the dim actually selects.
    */
  val dppPrune = Q(
    "x_dpp_prune",
    (s, d) => {
      // repartition by the partition column before the dynamic-partition
      // write (guide §6 small-files): unclustered, every write task emits a
      // file into every month directory it touches (~tasks × months files);
      // clustered, each month lands in one task — ~one file per month, which
      // the DPP-pruned re-read (and the oracle's read_parquet) then lists
      // and opens. The explicit count uses the session's shuffle-partition
      // knob (the parameterised scale setting, not a literal): without it
      // AQE would coalesce this small exchange to one writer task.
      val monthly = Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_cents"),
          date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      monthly
        .repartition(
          // tolerate a non-numeric session value (AQE's "auto") — fall back
          // to defaultParallelism rather than NumberFormatException
          scala.util.Try(s.conf.get("spark.sql.shuffle.partitions").toInt)
            .getOrElse(s.sparkContext.defaultParallelism),
          col("ship_month"))
        .write.mode("overwrite").partitionBy("ship_month")
        .parquet(s"$SchemaBase/fact_by_month")
      // the written frame's schema (partition column last, as partitionBy
      // lays it out): no footer job, and ship_month stays a string
      val fact = s.read.schema(monthly.schema).parquet(s"$SchemaBase/fact_by_month")
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          year(col("o_orderdate")) === 1995)
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
        .distinct()
      fact.join(dim, "ship_month")
        .groupBy(col("ship_month"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"))
        .orderBy("ship_month")
    },
    Some(s"""WITH dim AS (
              SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
              FROM orders
              WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1995)
            SELECT f.ship_month, count(*) AS n, CAST(sum(f.price_cents) AS BIGINT) AS sum_cents
            FROM read_parquet('$SchemaBase/fact_by_month/*/*.parquet', hive_partitioning=true) f
            JOIN dim ON f.ship_month = dim.ship_month
            GROUP BY f.ship_month ORDER BY f.ship_month""")
  )

  /** Differentially-private-style noisy release (the Laplace-mechanism shape
    * with a SEEDED discrete noise so the release is reproducible and
    * oracle-able): per-(nation, segment) counts get an integer noise in
    * [-9, 9] derived from a hash of the group key — the deterministic stand-in
    * for a per-release PRNG draw, the pattern census-style engines use for
    * repeatable audited releases. Small classes (n < 10) are SUPPRESSED
    * entirely (release nothing rather than a noisy nothing — the standard
    * complementary suppression rule), and the true count never appears in
    * the output. The oracle replays hash, noise, and suppression exactly.
    *
    * Scale: one hash-aggregate exchange on the group key; noise is a
    * row-local expression over the aggregated (tiny) frame.
    */
  val dpNoisyCounts = Q(
    "x_dp_noisy_counts",
    (s, d) =>
      Tables.customer(s, d)
        .select(col("c_nationkey").cast("long").as("nation"), col("c_mktsegment").as("segment"))
        .groupBy(col("nation"), col("segment"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 10)
        .select(col("nation"), col("segment"),
          (col("n") +
            ((col("nation") * 131 + ascii(substring(col("segment"), 1, 1)) * 17 +
              length(col("segment"))) % 1000003 % 19 - 9)).as("noisy_n"))
        .orderBy("nation", "segment"),
    Some("""SELECT nation, segment,
              CAST(n + ((nation * 131 + ascii(substring(segment, 1, 1)) * 17 + length(segment))
                        % 1000003 % 19 - 9) AS BIGINT) AS noisy_n
            FROM (
              SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment, count(*) AS n
              FROM customer GROUP BY 1, 2 HAVING count(*) >= 10)
            ORDER BY nation, segment""")
  )

  /** Replica reconciliation by SEGMENT DIGESTS — the anti-entropy pattern
    * (Merkle-tree repair, DeCandia et al., Dynamo SOSP'07 §4.7) that lets two
    * 100 TB replicas agree by exchanging kilobytes: each side folds its rows
    * into one order-independent integer digest per 4096-key segment (modular
    * polynomial over the row's fields — sums exactly, both engines), and only
    * segments whose (count, digest) differ are reported for re-shipment. The
    * replica is simulated in-query with deterministic drift (a few keys'
    * quantities perturbed, a few keys dropped — the bit-rot and lost-write
    * classes); the oracle replays both sides' digests row-level.
    *
    * Scale: two scans, each a map-side digest + one partial→final agg to
    * ~|keys|/4096 segment rows; the compare joins segment SUMMARIES, never
    * rows — the entire reconciliation exchange is digest-sized, and only
    * divergent segments would be re-read.
    */
  val replicaReconcile = Q(
    "x_replica_reconcile",
    (s, d) => {
      val M = 1000003L
      val base = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qty_cents"))
      def summarize(df: org.apache.spark.sql.DataFrame, n: String, g: String) =
        df.select(expr("l_orderkey div 4096").as("seg"),
            (((col("l_orderkey") % M) * 31 + col("l_linenumber") * 131 +
              (col("qty_cents") % M) * 17) % M).as("dg"))
          .groupBy("seg")
          .agg(count(lit(1)).as(n), sum(col("dg")).as(g))
      val primary = summarize(base, "n_primary", "dig_a")
      val replica = summarize(
        base.filter(col("l_orderkey") % 23003 =!= 0)
          .withColumn("qty_cents",
            when(col("l_orderkey") % 19997 === 0, col("qty_cents") + 100)
              .otherwise(col("qty_cents"))),
        "n_replica", "dig_b")
      primary.join(replica, Seq("seg"), "full_outer")
        .select(col("seg"),
          coalesce(col("n_primary"), lit(0L)).as("n_primary"),
          coalesce(col("n_replica"), lit(0L)).as("n_replica"))
        .where(
          coalesce(col("n_primary"), lit(0L)) =!= coalesce(col("n_replica"), lit(0L)) ||
          coalesce(col("dig_a"), lit(-1L)) =!= coalesce(col("dig_b"), lit(-1L)))
        .orderBy("seg")
    },
    Some("""WITH base AS (
              SELECT l_orderkey AS okey, l_linenumber AS ln,
                CAST(round(l_quantity * 100) AS BIGINT) AS qc
              FROM lineitem),
            a AS (
              SELECT okey // 4096 AS seg, count(*) AS n_primary,
                CAST(sum(((okey % 1000003) * 31 + ln * 131 + (qc % 1000003) * 17) % 1000003) AS BIGINT) AS dig_a
              FROM base GROUP BY 1),
            b AS (
              SELECT okey // 4096 AS seg, count(*) AS n_replica,
                CAST(sum(((okey % 1000003) * 31 + ln * 131 +
                  ((CASE WHEN okey % 19997 = 0 THEN qc + 100 ELSE qc END) % 1000003) * 17) % 1000003) AS BIGINT) AS dig_b
              FROM base WHERE okey % 23003 <> 0 GROUP BY 1)
            SELECT COALESCE(a.seg, b.seg) AS seg,
              CAST(COALESCE(n_primary, 0) AS BIGINT) AS n_primary,
              CAST(COALESCE(n_replica, 0) AS BIGINT) AS n_replica
            FROM a FULL OUTER JOIN b ON a.seg = b.seg
            WHERE COALESCE(n_primary, 0) <> COALESCE(n_replica, 0)
               OR COALESCE(dig_a, -1) <> COALESCE(dig_b, -1)
            ORDER BY seg""")
  )

  /** WRITE–AUDIT–PUBLISH — the staged-commit discipline (popularized by
    * Netflix's Iceberg WAP) that keeps a 100 TB table's consumers from ever
    * seeing unaudited data: stage the snapshot, run the audits against the
    * STAGED files, quarantine violations, and only then publish — a new
    * version of the `published` store whose commit pointer moves LAST (the
    * serving-index transaction, [[graft.sources.Storage.commit]]), so a
    * crash mid-publish leaves the previous snapshot live, never a torn one.
    * Audits here are the two genuinely-present defect classes: duplicate
    * (orderkey, linenumber) business keys (the synthetic lineitem contains
    * real ones) and orphaned foreign keys (lineitems with no parent order).
    * The output's `n_published` is read back FROM THE PUBLISHED ARTIFACT —
    * and the oracle counts the same files, so a publish that dropped or
    * leaked rows hash-fails.
    *
    * Scale: dup detection is a two-phase count on the business key; orphan
    * detection a key-level anti join; the publish itself is one partitioned
    * write — no step holds more than an aggregation's state.
    */
  val wapPublish = Q(
    "x_wap_publish",
    (s, d) => {
      val wap = s"$SchemaBase/wap"
      val staged = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qty_cents"))
      // n_staged rides the staging write as an Observation — the audits still
      // run against the STAGED files (st below), but the row count needs no
      // separate scan of them.
      val stObs = new org.apache.spark.sql.Observation()
      staged.observe(stObs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$wap/staged")
      val st = s.read.schema(staged.schema).parquet(s"$wap/staged")
      // One aggregation serves both audit faces: the duplicate KEYS feed the
      // quarantine anti-join, and n_dup_quarantined is the sum of the dup
      // groups' counts (identical to the old semi-join re-count of staged —
      // every staged row in a c>1 group and only those). truncateLineage so
      // the agg runs once; dup volume is delta-sized (bounded recompute).
      val dup = st.groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .truncateLineage()
      val dupKeys = dup.select(col("l_orderkey"), col("l_linenumber"))
      val orderKeys = Tables.orders(s, d).select(col("o_orderkey"))
      val clean = st
        .join(dupKeys, Seq("l_orderkey", "l_linenumber"), "left_anti")
        .join(orderKeys, st("l_orderkey") === orderKeys("o_orderkey"), "left_semi")
      val pub = Storage.head(s"$wap/published")
      val (cleanObs, nClean) = Storage.observedCount(clean)
      pub.write(cleanObs, "data")
      // the pointer LAST: until it moves, readers see the previous snapshot
      Storage.commit(pub.rebuilt(nClean(), "data"))
      val published = Storage.committed(s"$wap/published").read(s, "data", staged.schema)
      val nStaged   = stObs.get("n").asInstanceOf[Long]
      val nDup      = dup.agg(coalesce(sum(col("c")), lit(0L)).as("n")).head().getLong(0)
      val nOrphan   = st.join(orderKeys, st("l_orderkey") === orderKeys("o_orderkey"), "left_anti").count()
      s.range(1).select(
        lit(nStaged).as("n_staged"), lit(nDup).as("n_dup_quarantined"),
        lit(nOrphan).as("n_orphan_quarantined"),
        // n_published stays a READ-BACK of the published artifact (the WAP
        // contract the oracle replays by counting the same files).
        lit(published.count()).as("n_published"))
    },
    Some(s"""WITH st AS (SELECT * FROM read_parquet('$SchemaBase/wap/staged/*.parquet')),
            dup AS (SELECT l_orderkey, l_linenumber FROM st
                    GROUP BY 1, 2 HAVING count(*) > 1),
            orphan AS (SELECT st.* FROM st LEFT JOIN orders ON l_orderkey = o_orderkey
                       WHERE o_orderkey IS NULL)
            SELECT (SELECT count(*) FROM st) AS n_staged,
              (SELECT count(*) FROM st JOIN dup USING (l_orderkey, l_linenumber)) AS n_dup_quarantined,
              (SELECT count(*) FROM orphan) AS n_orphan_quarantined,
              (SELECT count(*) FROM read_parquet('$SchemaBase/wap/published/data/*/*.parquet')) AS n_published""")
  )

  /** In-flight pipeline observability via `Dataset.observe` (Catalyst's
    * CollectMetrics operator): a curation gate filters documents, and the
    * audit counters — rows in, rows failing each gate — accumulate INSIDE
    * the same pass, map-side, as the data flows. At 100 TB this is the
    * difference between one scan and two: the naive audit re-scans the input
    * to count what the filter dropped; `observe` rides the existing scan for
    * free (metrics are AccumulatorV2s merged on task completion — no extra
    * exchange, no second job over the corpus). The collected metric row is
    * model-sized (four longs), the same driver-scalar discipline as the
    * k-means centroids. The oracle replays every counter as plain SQL
    * aggregates over the same table.
    *
    * Gate counters are INDEPENDENT (a doc can fail length AND language;
    * counters overlap deliberately — per-cause monitoring, not a partition
    * of the drops); `n_kept` is the conjunctive gate's survivor count.
    */
  val observeAudit = Q(
    "x_observe_audit",
    (s, d) => {
      val obs = new org.apache.spark.sql.Observation("curation_gate")
      val gated = Tables.documents(s, d)
        .observe(obs,
          count(lit(1)).as("n_in"),
          sum(when(col("n_chars") < 150, 1L).otherwise(0L)).as("n_too_short"),
          sum(when(col("n_chars") > 400, 1L).otherwise(0L)).as("n_too_long"),
          sum(when(!col("lang").isin("en", "de", "es", "fr"), 1L).otherwise(0L)).as("n_bad_lang"))
        .filter(col("n_chars").between(150, 400) && col("lang").isin("en", "de", "es", "fr"))
      val nKept = gated.count() // the one action; populates the observation
      val m = obs.get
      s.range(1).select(
        lit(m("n_in").asInstanceOf[Long]).as("n_in"),
        lit(m("n_too_short").asInstanceOf[Long]).as("n_too_short"),
        lit(m("n_too_long").asInstanceOf[Long]).as("n_too_long"),
        lit(m("n_bad_lang").asInstanceOf[Long]).as("n_bad_lang"),
        lit(nKept).as("n_kept"))
    },
    Some("""SELECT count(*) AS n_in,
              count(*) FILTER (WHERE n_chars < 150) AS n_too_short,
              count(*) FILTER (WHERE n_chars > 400) AS n_too_long,
              count(*) FILTER (WHERE lang NOT IN ('en','de','es','fr')) AS n_bad_lang,
              count(*) FILTER (WHERE n_chars BETWEEN 150 AND 400
                               AND lang IN ('en','de','es','fr')) AS n_kept
            FROM documents""")
  )

  /** Snapshot retention (VACUUM) — the third leg of the table-maintenance
    * triad beside compaction (`x_compaction`/index `compact`) and
    * write–audit–publish (`x_wap_publish`): four publishes build a versioned
    * store (versions 1..4 of its `data` table, each a different cumulative
    * lineitem slice, each live once its commit pointer moves), crash debris
    * is planted (`.__merge_tmp`, `.__append_x`) and backdated past the grace
    * window, then [[graft.sources.Storage.vacuum]] retains the 2-version
    * window ending at the live version and sweeps the AGED debris (fresh
    * staging dirs are presumed in-flight concurrent writers and survive —
    * the r14 single-writer-race fix). The row counts come from the retained
    * versions' pointers.
    * The oracle sees only the POST-vacuum filesystem: it takes the live
    * version as the highest data directory left, counts retained versions
    * and rows from the directories' files, and proves the debris is gone via
    * glob() — a leaky vacuum (live deleted, window wrong, debris left)
    * hash-fails.
    *
    * Scale: vacuum is metadata-only (directory listings + pointer reads;
    * deletes proportional to expired versions, zero data reads) — the
    * shape that keeps a 100 TB store's maintenance off the query path.
    */
  val vacuumRetention = Q(
    "x_vacuum_retention",
    (s, d) => {
      val base = s"$SchemaBase/vac"
      Storage.drop(base)
      val rows = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      (1 to 4).foreach { v =>
        val at = Storage.head(base)
        val (snap, n) = Storage.observedCount(rows.filter(col("l_orderkey") % 4 < v))
        at.write(snap, "data")
        // the pointer LAST: its move is what makes version v live
        Storage.publish(at.rebuilt(n(), "data"))
      }
      // crash debris: a dead rename-aside sidecar and a dead staged append,
      // backdated past vacuum's grace window (fresh staging dirs are
      // presumed in-flight concurrent writers and must survive the sweep)
      s.range(1).select(lit(1L).as("junk")).write.parquet(s"$base/x.__merge_tmp")
      s.range(1).select(lit(1L).as("junk")).write.parquet(s"$base/x.__append_dead")
      val aged = System.currentTimeMillis() - 3600 * 1000L
      Storage.setMtime(s"$base/x.__merge_tmp", aged)
      Storage.setMtime(s"$base/x.__append_dead", aged)
      val (live, _, _) = Storage.vacuum(base, keepLast = 2)
      val retained = Storage.history(base)
      val nStray = Storage.ls(base).count(n => n.contains("__"))
      s.range(1).select(
        lit(live).as("live_snap"),
        lit(retained.size.toLong).as("n_snaps_retained"),
        lit(retained.last.rows).as("n_rows_live"),
        lit(retained.map(_.rows).sum).as("n_rows_retained"),
        lit(nStray.toLong).as("n_stray_dirs"))
    },
    Some(s"""WITH d AS (
              SELECT CAST(regexp_extract(filename, '/vac/data/([0-9]+)/', 1) AS BIGINT) AS v
              FROM read_parquet('$SchemaBase/vac/data/*/*.parquet', filename=true))
            SELECT
              (SELECT max(v) FROM d) AS live_snap,
              (SELECT count(DISTINCT v) FROM d) AS n_snaps_retained,
              (SELECT count(*) FROM d WHERE v = (SELECT max(v) FROM d)) AS n_rows_live,
              (SELECT count(*) FROM d) AS n_rows_retained,
              (SELECT count(*) FROM glob('$SchemaBase/vac/*__*')) AS n_stray_dirs""")
  )

  /** Multi-format ingest — the heterogeneous-source reality the registry's
    * parquet-only reads skipped: one corpus lands as CSV (header, quoted),
    * JSON-lines, and parquet; each is read back with an EXPLICIT schema (no
    * inference job over 100 TB of text — schema-on-read is a contract, not a
    * scan), tagged with its format, unioned by name, and aggregated. The
    * text column rides along to prove byte fidelity across the
    * serialize/parse round-trip (`sum_len` re-derives length post-parse —
    * a quoting or escaping bug in either engine's CSV/JSON path breaks the
    * hash). The oracle re-reads the SAME files with DuckDB's read_csv /
    * read_json / read_parquet — cross-engine format compatibility is the
    * point: the artifacts are portable, not Spark-private.
    *
    * Scale: all three readers are splittable scans (CSV/JSONL split by
    * line, parquet by row group); the union is plan-level (no exchange) and
    * the aggregate is one partial→final pass.
    */
  val multiformatIngest = Q(
    "x_multiformat_ingest",
    (s, d) => {
      val base = s"$SchemaBase/formats"
      Storage.drop(base)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
      docs.filter(col("doc_id") % 3 === 0)
        .write.mode("overwrite").option("header", "true").csv(s"$base/csv")
      docs.filter(col("doc_id") % 3 === 1).write.mode("overwrite").json(s"$base/jsonl")
      docs.filter(col("doc_id") % 3 === 2).write.mode("overwrite").parquet(s"$base/parquet")
      val schema = docs.schema
      val fromCsv = s.read.schema(schema).option("header", "true").csv(s"$base/csv")
        .withColumn("fmt", lit("csv"))
      val fromJson = s.read.schema(schema).json(s"$base/jsonl")
        .withColumn("fmt", lit("jsonl"))
      val fromPq = s.read.schema(schema).parquet(s"$base/parquet").withColumn("fmt", lit("parquet"))
      fromCsv.unionByName(fromJson).unionByName(fromPq)
        .groupBy(col("fmt"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text")).cast("long")).as("sum_len"))
        .orderBy("fmt", "lang")
    },
    Some(s"""WITH u AS (
              SELECT 'csv' AS fmt, lang, n_chars, text
              FROM read_csv('$SchemaBase/formats/csv/*.csv', header=true,
                columns={'doc_id':'BIGINT','lang':'VARCHAR','source':'VARCHAR',
                         'n_chars':'BIGINT','text':'VARCHAR'})
              UNION ALL
              SELECT 'jsonl', lang, n_chars, text
              FROM read_json('$SchemaBase/formats/jsonl/*.json', format='newline_delimited',
                columns={'doc_id':'BIGINT','lang':'VARCHAR','source':'VARCHAR',
                         'n_chars':'BIGINT','text':'VARCHAR'})
              UNION ALL
              SELECT 'parquet', lang, n_chars, text
              FROM read_parquet('$SchemaBase/formats/parquet/*.parquet'))
            SELECT fmt, lang, count(*) AS n,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              CAST(sum(length(text)) AS BIGINT) AS sum_len
            FROM u GROUP BY fmt, lang ORDER BY fmt, lang""")
  )

  /** Two-proportion z-test on an A/B split of the event log — the
    * experimentation readout an analytics engine serves daily: users hash
    * to variants (user_id mod 2 — the deterministic stand-in for an
    * assignment service), conversion = at least one purchase, and the
    * pooled-proportion z statistic decides significance at α = 0.05.
    * Counts and rates are integer-exact; the z statistic is ONE row of
    * double arithmetic with the IDENTICAL expression shape on both engines
    * (IEEE ops — incl. sqrt — are correctly rounded, so same shape ⇒ same
    * bits; the x_distinct_kmv estimator precedent), quantized to milli
    * for the hash.
    *
    * Shape: one per-user conversion aggregate (hash exchange on user_id),
    * then a 2-row variant aggregate — the corpus is never touched again.
    */
  val abtestSignificance = Q(
    "x_abtest_significance",
    (s, d) => {
      // conversion = a HEAVY purchaser (≥14 purchase events): "any purchase"
      // is degenerate on this generator (every user converts at every
      // scale → pooled p = 1 → zero standard error)
      val u = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 14, 1L)
          .otherwise(0L).as("conv"))
      val v = u.groupBy(pmod(col("user_id"), lit(2)).as("variant"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
      val a = v.filter(col("variant") === 0).select(col("n").as("n_a"), col("c").as("conv_a"))
      val b = v.filter(col("variant") === 1).select(col("n").as("n_b"), col("c").as("conv_b"))
      a.join(b, lit(true), "inner") // 1×1
        .withColumn("pa", col("conv_a").cast("double") / col("n_a").cast("double"))
        .withColumn("pb", col("conv_b").cast("double") / col("n_b").cast("double"))
        .withColumn("pp", (col("conv_a") + col("conv_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double"))
        // degenerate guard: pooled p ∈ {0, 1} ⇒ zero variance ⇒ z defined 0
        // (ANSI Spark errors on double ÷0 where DuckDB returns inf — the
        // CASE keeps both engines on the same finite value)
        .withColumn("z", when(col("pp") === 0.0 || col("pp") === 1.0, lit(0.0))
          .otherwise((col("pa") - col("pb")) /
            sqrt(col("pp") * (lit(1.0) - col("pp")) *
              (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))))
        .select(
          col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          expr("(1000 * conv_a) div n_a").as("rate_a_milli"),
          expr("(1000 * conv_b) div n_b").as("rate_b_milli"),
          floor(col("z") * 1000 + 0.5).cast("long").as("z_milli"),
          when(abs(col("z")) > 1.96, 1L).otherwise(0L).as("significant"))
    },
    Some("""WITH u AS (
              SELECT user_id,
                CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                     THEN 1 ELSE 0 END AS conv
              FROM events GROUP BY user_id),
            v AS (
              SELECT user_id % 2 AS variant, count(*) AS n,
                CAST(sum(conv) AS BIGINT) AS c
              FROM u GROUP BY 1),
            a AS (SELECT n AS n_a, c AS conv_a FROM v WHERE variant = 0),
            b AS (SELECT n AS n_b, c AS conv_b FROM v WHERE variant = 1),
            j AS (
              SELECT n_a, conv_a, n_b, conv_b,
                CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
                CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
                CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
              FROM a, b),
            z AS (
              SELECT *, CASE WHEN pp = 0.0 OR pp = 1.0 THEN 0.0
                ELSE (pa - pb) /
                  sqrt(pp * (1.0 - pp) *
                    (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
                END AS zv
              FROM j)
            SELECT n_a, conv_a, n_b, conv_b,
              1000 * conv_a // n_a AS rate_a_milli,
              1000 * conv_b // n_b AS rate_b_milli,
              CAST(floor(zv * 1000 + 0.5) AS BIGINT) AS z_milli,
              CAST(CASE WHEN abs(zv) > 1.96 THEN 1 ELSE 0 END AS BIGINT) AS significant
            FROM z""")
  )

  val qs: Seq[Q] = Seq(kAnonymity, schemaEvolution, unpivotMetrics, ewmaAnomaly, observeAudit, vacuumRetention, multiformatIngest,
    holtWinters, groupedPercentiles, gapsIslands, equidepthHistogram, dppPrune, dpNoisyCounts,
    replicaReconcile, wapPublish, abtestSignificance)
}
