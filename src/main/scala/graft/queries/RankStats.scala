package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Layout
import graft.functions.Layout.LineageOps

/** Rank-based statistics over data-sized frames — the nonparametric
  * two-sample family (Mann–Whitney U, two-sample Kolmogorov–Smirnov) and
  * rank correlation (Spearman), each built on the two-phase global
  * rank/prefix-sum primitives in [[graft.functions.Layout]] so NO corpus- or
  * user-sized frame is ever total-ordered through one task. These are the
  * tests a training-data pipeline runs daily: "did the metric distribution
  * drift between yesterday's shard and today's?" (KS), "is arm B's
  * engagement stochastically larger than arm A's, without assuming
  * normality?" (Mann–Whitney — the nonparametric sibling of
  * `x_abtest_significance`'s z-test), "are these two per-entity metrics
  * monotonically associated?" (Spearman).
  *
  * House discipline throughout: collapse the corpus to per-entity or
  * per-value partials first (one hash exchange); run the global
  * cumulative/rank pass as the two-phase histogram shape (per-slice window +
  * broadcast offsets — never an unpartitioned window); publish integer-exact
  * statistics (doubled rank sums, ppm/milli quantization, cross-multiplied
  * significance gates) so both engines hash identically, with the one IEEE
  * z-ratio computed in the IDENTICAL expression shape on both engines (the
  * `x_abtest_significance` precedent: IEEE ops — incl. sqrt — are correctly
  * rounded, so same shape ⇒ same bits).
  */
object RankStats {

  /** The asymptotic-normal z ratio of the Mann–Whitney U statistic, with
    * average-rank tie correction, in the identical double shape on both
    * engines. Operates on BIGINT columns n_a, n_b, u_a_x2 (= 2·U_A, doubled
    * so half-ranks stay integral), tie_cubes (= Σ t³−t over tie groups):
    * z = (U_A − n_A·n_B/2) / sqrt(Var), Var = (n_A·n_B/12)·((n+1) −
    * Σ(t³−t)/(n(n−1))) — expressed on the doubled scale so the numerator is
    * (u_a_x2 − n_A·n_B) and the denominator sqrt carries 4·Var. Degenerate
    * frames (an empty arm, n < 2, or zero variance when every value ties)
    * pin z = 0 via CASE on both engines: ANSI Spark errors on double ÷0
    * where DuckDB returns inf/nan.
    */
  private val zShape =
    """CASE WHEN n_a = 0 OR n_b = 0 OR n_a + n_b < 2 THEN 0.0
      |     WHEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
      |            * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
      |               - CAST(tie_cubes AS DOUBLE)
      |                 / (CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1.0)))
      |            / 3.0 <= 0.0 THEN 0.0
      |     ELSE (CAST(u_a_x2 AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
      |          / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
      |            * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
      |               - CAST(tie_cubes AS DOUBLE)
      |                 / (CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1.0)))
      |            / 3.0)
      |END""".stripMargin

  /** Mann–Whitney U (Wilcoxon rank-sum) test between the two A/B arms
    * (user_id mod 2 — the `x_abtest_significance` assignment convention) on
    * per-user lifetime metric value, in cents. The nonparametric readout:
    * no normality assumption, driven entirely by ranks, with the standard
    * average-rank tie treatment (Mann & Whitney 1947; Lehmann,
    * "Nonparametrics").
    *
    * Everything is exact integers until the final z ratio: the doubled rank
    * sum 2·R_A = Σ_v n_A(v)·(2·cum_before(v) + t(v) + 1) needs only the
    * VALUE HISTOGRAM (per-spend arm counts) and the exact global cumulative
    * count before each value — a [[Layout.twoPhasePrefixSumBefore]] over the
    * histogram, never a corpus-sized window. U_A is published doubled
    * (`u_a_x2`) so tied half-ranks stay integral; `tie_cubes` = Σ t³−t is
    * the exact variance correction (sums in DECIMAL(38,0); published BIGINT
    * — exact to ~2×10⁶ M rows per value-tie, far past any tested scale).
    *
    * Scale shape: one corpus hash exchange (per-user sum) → one histogram
    * hash exchange (data-sized: per-user spends are near-distinct) → the
    * two-phase prefix pass (per-slice windows + one broadcast offsets join)
    * → a 1-row fold. The histogram is localCheckpoint'd so the prefix
    * machinery's sketch/offsets/main reads scan the corpus once.
    */
  val mannWhitneyU = Q(
    "x_mannwhitney_u",
    (s, d) => {
      val users = Tables.events(s, d)
        .select(col("user_id"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy(col("user_id"))
        .agg(sum(col("cents")).as("spend"))
        .withColumn("arm", pmod(col("user_id"), lit(2)))
      val hist = users.groupBy(col("spend"))
        .agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n2"))
        .truncateLineage()
      val cum = Layout.twoPhasePrefixSumBefore(
        hist, "cb", col("n1") + col("n2"), col("spend"))
      cum.agg(
          sum(col("n1")).as("n_a"),
          sum(col("n2")).as("n_b"),
          sum((col("n1") * (lit(2L) * col("cb") + col("n1") + col("n2") + lit(1L)))
            .cast("decimal(38,0)")).as("r1x2"),
          sum({
            val t = (col("n1") + col("n2")).cast("decimal(12,0)")
            t * t * t - t
          }).as("ties"))
        .select(col("n_a"), col("n_b"),
          (col("r1x2") - col("n_a").cast("decimal(38,0)") * (col("n_a") + lit(1L)))
            .cast("long").as("u_a_x2"),
          col("ties").cast("long").as("tie_cubes"))
        .withColumn("z", expr(zShape))
        .select(col("n_a"), col("n_b"), col("u_a_x2"), col("tie_cubes"),
          expr("CAST(floor(z * 1000 + 0.5) AS BIGINT)").as("z_milli"),
          expr("CAST(CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END AS BIGINT)")
            .as("significant"))
        .drop("z")
    },
    Some(s"""WITH u AS (
              SELECT user_id, user_id % 2 AS arm,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend
              FROM events GROUP BY 1, 2),
            h AS (
              SELECT spend,
                CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
              FROM u GROUP BY 1),
            c AS (
              SELECT spend, n1, n2,
                COALESCE(sum(n1 + n2) OVER (ORDER BY spend
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
              FROM h),
            a AS (
              SELECT CAST(sum(n1) AS BIGINT) AS n_a, CAST(sum(n2) AS BIGINT) AS n_b,
                CAST(sum(n1 * (2 * cb + n1 + n2 + 1)) AS BIGINT) AS r1x2,
                CAST(sum(CAST(n1 + n2 AS HUGEINT) * (n1 + n2) * (n1 + n2) - (n1 + n2))
                  AS BIGINT) AS tie_cubes
              FROM c),
            b AS (
              SELECT n_a, n_b, CAST(r1x2 - n_a * (n_a + 1) AS BIGINT) AS u_a_x2,
                tie_cubes
              FROM a),
            z AS (
              SELECT *, $zShape AS z FROM b)
            SELECT n_a, n_b, u_a_x2, tie_cubes,
              CAST(floor(z * 1000 + 0.5) AS BIGINT) AS z_milli,
              CAST(CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END AS BIGINT) AS significant
            FROM z""")
  )

  /** Two-sample Kolmogorov–Smirnov drift test between the first and second
    * half of the event log (split at the in-query midpoint day — the
    * `x_ab_cuped` pre/post idiom): D = max_v |F₁(v) − F₂(v)| over the
    * per-event metric in cents. The continuous-distribution drift gate that
    * complements `x_drift_tv`'s categorical total-variation distance — the
    * check a pipeline runs before mixing a new crawl snapshot into
    * yesterday's distribution.
    *
    * Exactness: the corpus collapses to the per-cents ARM HISTOGRAM (one
    * hash exchange); both inclusive CDFs come from ONE
    * [[Layout.twoPhasePrefixSumBefore]] pass by packing the two arm counts
    * into a single value `c₁·2³³ + c₂` (prefix sums distribute over the
    * packing; sums run in DECIMAL(38,0), and the unpack is exact while the
    * second arm holds < 2³³ ≈ 8.6 B rows — far past any tested scale; at
    * true 100 TB scale shard by time range first). The deviation is the
    * cross-multiplied integer |cum₁·n₂ − cum₂·n₁| — no rational arithmetic
    * — and significance at α = 0.05 is the fully integer comparison
    * 10⁶·D_num² > 1 844 164·(n₁+n₂)·n₁·n₂ (c(0.05)² = 1.358² in ppm),
    * evaluated in DECIMAL(38,0)/HUGEINT: no IEEE anywhere in this query.
    * `at_cents` (the smallest value attaining the max deviation) localizes
    * WHERE the distributions diverge.
    */
  val ksDrift = Q(
    "x_ks_drift",
    (s, d) => {
      val ev = Tables.events(s, d).select(
        unix_date(col("ts").cast("date")).cast("long").as("di"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val bounds = ev.agg(min(col("di")).as("d0"), max(col("di")).as("d1"))
      val hist = ev.join(broadcast(bounds), lit(true), "inner")
        .withColumn("a1", (col("di") <= expr("(d0 + d1) div 2")).cast("long"))
        .groupBy(col("cents"))
        .agg(sum(col("a1")).as("c1"), sum(lit(1L) - col("a1")).as("c2"))
        .truncateLineage()
      val cum0 = Layout.twoPhasePrefixSumBefore(
        hist, "pb",
        col("c1").cast("decimal(38,0)") * lit(8589934592L) + col("c2"),
        col("cents"))
      val tot = hist.agg(sum(col("c1")).as("n_a"), sum(col("c2")).as("n_b"))
      val cum = cum0.join(broadcast(tot), lit(true), "inner")
        .withColumn("cum1", expr("pb div 8589934592") + col("c1"))
        .withColumn("cum2", expr("CAST(pb % 8589934592 AS BIGINT)") + col("c2"))
        .withColumn("dev", abs(col("cum1") * col("n_b") - col("cum2") * col("n_a")))
      val dmax = cum.agg(max(col("dev")).as("d_num"))
      cum.join(broadcast(dmax), col("dev") === col("d_num"))
        .groupBy(col("n_a"), col("n_b"), col("d_num"))
        .agg(min(col("cents")).as("at_cents"))
        .select(col("n_a"), col("n_b"),
          expr("""CASE WHEN n_a * n_b = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST((CAST(d_num AS DECIMAL(38,0)) * 1000000) div (n_a * n_b)
                    AS BIGINT) END""").as("d_ppm"),
          col("at_cents"),
          expr("""CASE WHEN n_a * n_b = 0 THEN CAST(0 AS BIGINT)
                  WHEN CAST(d_num AS DECIMAL(38,0)) * d_num * 1000000
                    > CAST(1844164 AS DECIMAL(38,0)) * (n_a + n_b) * n_a * n_b
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END""")
            .as("significant"))
    },
    Some("""WITH e AS (
              SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS di,
                CAST(round(value * 100) AS BIGINT) AS cents
              FROM events),
            b AS (SELECT min(di) AS d0, max(di) AS d1 FROM e),
            h AS (
              SELECT cents,
                CAST(sum(CASE WHEN di <= (d0 + d1) // 2 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                CAST(sum(CASE WHEN di <= (d0 + d1) // 2 THEN 0 ELSE 1 END) AS BIGINT) AS c2
              FROM e, b GROUP BY 1),
            c AS (
              SELECT cents, c1, c2,
                CAST(sum(c1) OVER (ORDER BY cents) AS BIGINT) AS cum1,
                CAST(sum(c2) OVER (ORDER BY cents) AS BIGINT) AS cum2
              FROM h),
            t AS (SELECT CAST(sum(c1) AS BIGINT) AS n_a,
                         CAST(sum(c2) AS BIGINT) AS n_b FROM h),
            v AS (SELECT cents, abs(cum1 * n_b - cum2 * n_a) AS dev, n_a, n_b
                  FROM c, t),
            m AS (SELECT max(dev) AS d_num FROM v)
            SELECT n_a, n_b,
              CAST(CASE WHEN n_a * n_b = 0 THEN 0
                ELSE (CAST(d_num AS HUGEINT) * 1000000) // (n_a * n_b) END
                AS BIGINT) AS d_ppm,
              CAST(min(cents) AS BIGINT) AS at_cents,
              CAST(CASE WHEN n_a * n_b = 0 THEN 0
                WHEN CAST(d_num AS HUGEINT) * d_num * 1000000
                  > CAST(1844164 AS HUGEINT) * (n_a + n_b) * n_a * n_b
                THEN 1 ELSE 0 END AS BIGINT) AS significant
            FROM v JOIN m ON v.dev = m.d_num
            GROUP BY n_a, n_b, d_num""")
  )

  /** Spearman rank correlation between per-customer order count and total
    * spend — "is activity monotonically associated with revenue?" — on the
    * DETERMINISTIC TIE-BREAK convention: ranks are `row_number() OVER
    * (ORDER BY metric, custkey)`, a total order, so the classical exact
    * identity ρ = 1 − 6·Σd²/(n(n²−1)) holds with pure integers end-to-end
    * (the average-rank tie variant needs a sqrt that neither engine can do
    * in exact arithmetic; the tie-broken convention is documented and
    * replayed identically by the oracle).
    *
    * Both global ranks run as ONE [[Layout.twoPhaseRankAllBy]] pass — a
    * single multi-column boundary sketch serving two two-phase ranks, the
    * r14-consolidated primitive — with tie-spreading surrogates
    * (`metric + custkey·2⁻⁴⁰`): order counts are Poisson-tied (the modal
    * count holds ~10% of customers), and the surrogate spreads each tie
    * class across slices instead of funnelling one task; exactness never
    * depends on it. Σd² sums in DECIMAL(38,0) and publishes as DOUBLE (the
    * driver-hash-proven type set — both engines correctly-round the same
    * exact integer); ρ is published in exact truncating ppm (BIGINT).
    */
  val spearmanCorr = Q(
    "x_spearman_corr",
    (s, d) => {
      val cust = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("spend"))
        .truncateLineage()
      def spread(m: org.apache.spark.sql.Column) =
        m.cast("double") + col("o_custkey").cast("double") * lit(math.pow(2, -40))
      val ranked = Layout.twoPhaseRankAllBy(cust,
        ("rx", spread(col("n_orders")), false, Seq(col("n_orders"), col("o_custkey"))),
        ("ry", spread(col("spend")), false, Seq(col("spend"), col("o_custkey"))))
      ranked.agg(
          count(lit(1)).as("n"),
          sum({
            val dd = (col("rx") - col("ry")).cast("decimal(19,0)")
            dd * dd
          }).as("sd2"))
        .select(col("n"),
          // Σd² ≤ n³/3 passes BIGINT at ~3e6 rows — the gen100 replay caught
          // exactly that (15M customers → 8.2e19, CAST_OVERFLOW) — so the
          // witness publishes as DOUBLE on BOTH engines: each side rounds the
          // SAME exact integer (Spark DECIMAL(38,0), DuckDB HUGEINT) with the
          // correctly-rounded IEEE conversion, so the bits agree. DECIMAL
          // itself is outside the driver-hash-proven type set (the r15 red
          // row; tools/published_type_lint.py now gates the class).
          col("sd2").cast("decimal(38,0)").cast("double").as("sum_d2"),
          expr("""CAST(1000000 - (CAST(sd2 AS DECIMAL(38,0)) * 6000000)
                    div greatest(CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1), 1)
                  AS BIGINT)""").as("rho_ppm"))
    },
    Some("""WITH c AS (
              SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend
              FROM orders GROUP BY 1),
            r AS (
              SELECT row_number() OVER (ORDER BY n_orders, o_custkey) AS rx,
                     row_number() OVER (ORDER BY spend, o_custkey) AS ry
              FROM c),
            a AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                sum(CAST(rx - ry AS HUGEINT) * (rx - ry)) AS sum_d2
              FROM r)
            SELECT n, CAST(sum_d2 AS DOUBLE) AS sum_d2,
              CAST(1000000 - (CAST(sum_d2 AS HUGEINT) * 6000000)
                // GREATEST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1), 1) AS BIGINT) AS rho_ppm
            FROM a""")
  )

  /** Fisher randomization (permutation) test on the A/B arm means — the
    * assumption-free significance readout: re-assign every user's arm label
    * under k = 64 FIXED multiplicative-hash designs, recompute the
    * between-arm mean difference under each, and report the rank of the
    * observed difference among the re-randomized ones (Fisher 1935; Ernst
    * 2004). Where `x_abtest_significance` leans on the normal approximation
    * and `x_mannwhitney_u` on rank asymptotics, this compares the observed
    * statistic only against ITS OWN randomization distribution.
    *
    * Determinism without an RNG: design s labels user u by the
    * scatter-then-square mixer `w = (A_s·u + B_s) mod M`,
    * `arm = (w² mod M) mod 2`, with M = 2³¹−1, A_s = (2654435761·(2s+3))
    * mod M, B_s = 104729·s. Any AFFINE map's parity inherits the
    * slowly-varying wrap-count run structure (a first attempt with
    * `(u·c) mod M mod 2` produced one all-zero design and one that exactly
    * reproduced the observed u mod 2 split at small n — caught by the
    * planted spec), so the square runs on the already-scattered w, whose
    * unit-u steps jump by A_s: its wrap count churns per row and the 64
    * designs behave as independent fair coins (balance and pairwise
    * agreement verified binomial at n = 40…20 000). All products are
    * bounded by (M−1)² < 2⁶³; both engines evaluate the identical closed
    * form. The comparison is
    * exact rational arithmetic: |mean₁−mean₀| ranks by the cross-multiplied
    * integer |S₁n₀−S₀n₁|·n₀ₛn₁ₛ vs |S₁ₛn₀ₛ−S₀ₛn₁ₛ|·n₀n₁ in
    * DECIMAL(38,0)/HUGEINT — no IEEE anywhere. The published p-value uses
    * the standard add-one rule (observed counts as its own permutation):
    * p = (#{s : |T_s| ≥ |T_obs|} + 1)/(k + 1), in exact ppm.
    *
    * Scale shape: ONE corpus pass — per-user sums (hash exchange), then a
    * posexplode over the 64 designs whose per-partition partial aggregation
    * collapses to 64 rows BEFORE the exchange (the `x_countmin` cell
    * pattern): the design sweep shuffles 64·partitions rows, never
    * 64·corpus. The observed row broadcasts onto the 64-row design frame.
    */
  val permutationTest = Q(
    "x_permutation_test",
    (s, d) => {
      val users = Tables.events(s, d)
        .select(col("user_id"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy(col("user_id"))
        .agg(sum(col("cents")).as("spend"))
        .truncateLineage() // observed + design sweeps both read it; corpus once
      val obs = users
        .withColumn("arm", pmod(col("user_id"), lit(2)))
        .agg(
          sum(when(col("arm") === 1, col("spend")).otherwise(0L))
            .cast("decimal(38,0)").as("s1"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 0, col("spend")).otherwise(0L))
            .cast("decimal(38,0)").as("s0"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"))
        .select(
          expr("abs(s1 * n0 - s0 * n1)").as("t_obs"),
          col("n0").as("n0_obs"), col("n1").as("n1_obs"))
      val designs = users
        .select(col("user_id"), col("spend"),
          posexplode(array((0 until 64).map(lit): _*)).as(Seq("s", "zero")))
        .withColumn("w",
          expr("""(((2654435761 * (2 * s + 3)) % 2147483647) * (user_id % 2147483647)
                  + 104729 * s) % 2147483647"""))
        .withColumn("perm_arm", expr("(w * w) % 2147483647 % 2"))
        .groupBy(col("s"))
        .agg(
          sum(when(col("perm_arm") === 1, col("spend")).otherwise(0L))
            .cast("decimal(38,0)").as("s1"),
          sum(when(col("perm_arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("perm_arm") === 0, col("spend")).otherwise(0L))
            .cast("decimal(38,0)").as("s0"),
          sum(when(col("perm_arm") === 0, 1L).otherwise(0L)).as("n0"))
      designs.join(broadcast(obs), lit(true), "inner")
        .agg(
          // A degenerate design (every user in one arm) has an undefined
          // mean difference — the cross-multiplied comparison collapses to
          // 0 >= 0, vacuously extreme — so such designs are excluded from
          // BOTH k and the extreme count (probability is negligible for the
          // verified-fair mixers; the guard makes the comparison well-posed).
          sum(expr("CASE WHEN n0 > 0 AND n1 > 0 THEN 1 ELSE 0 END"))
            .cast("long").as("k"),
          sum(expr("""CASE WHEN n0 > 0 AND n1 > 0
                        AND abs(s1 * n0 - s0 * n1) * n0_obs * n1_obs
                        >= t_obs * n0 * n1 THEN 1 ELSE 0 END"""))
            .cast("long").as("n_extreme"),
          max(col("n0_obs") + col("n1_obs")).as("n_users"))
        .select(col("n_users"), col("k"), col("n_extreme"),
          expr("((n_extreme + 1) * 1000000) div (k + 1)").as("p_ppm"),
          expr("""CAST(CASE WHEN ((n_extreme + 1) * 1000000) div (k + 1) < 50000
                 THEN 1 ELSE 0 END AS BIGINT)""").as("significant"))
    },
    Some("""WITH u AS (
              SELECT user_id,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend
              FROM events GROUP BY 1),
            o AS (
              SELECT
                abs(sum(CASE WHEN user_id % 2 = 1 THEN CAST(spend AS HUGEINT) ELSE 0 END)
                      * sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                    - sum(CASE WHEN user_id % 2 = 0 THEN CAST(spend AS HUGEINT) ELSE 0 END)
                      * sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)) AS t_obs,
                CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0_obs,
                CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1_obs
              FROM u),
            w AS (
              SELECT s.s, u.spend,
                ((((2654435761 * (2 * s.s + 3)) % 2147483647) * (u.user_id % 2147483647)
                  + 104729 * s.s) % 2147483647) AS wv
              FROM u CROSS JOIN (SELECT unnest(range(0, 64)) AS s) s),
            p AS (
              SELECT s,
                sum(CASE WHEN (wv * wv) % 2147483647 % 2 = 1
                    THEN CAST(spend AS HUGEINT) ELSE 0 END) AS s1,
                CAST(sum(CASE WHEN (wv * wv) % 2147483647 % 2 = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                sum(CASE WHEN (wv * wv) % 2147483647 % 2 = 0
                    THEN CAST(spend AS HUGEINT) ELSE 0 END) AS s0,
                CAST(sum(CASE WHEN (wv * wv) % 2147483647 % 2 = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n0
              FROM w GROUP BY 1),
            a AS (
              SELECT CAST(sum(CASE WHEN p.n0 > 0 AND p.n1 > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS k,
                CAST(sum(CASE WHEN p.n0 > 0 AND p.n1 > 0
                          AND abs(p.s1 * p.n0 - p.s0 * p.n1) * o.n0_obs * o.n1_obs
                          >= o.t_obs * p.n0 * p.n1 THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
                CAST(max(o.n0_obs + o.n1_obs) AS BIGINT) AS n_users
              FROM p, o)
            SELECT n_users, k, n_extreme,
              CAST(((n_extreme + 1) * 1000000) // (k + 1) AS BIGINT) AS p_ppm,
              CAST(CASE WHEN ((n_extreme + 1) * 1000000) // (k + 1) < 50000
                THEN 1 ELSE 0 END AS BIGINT) AS significant
            FROM a""")
  )

  /** The input of the two incremental rank faces: events as
    * (grp = event_type, di = day number, cents), split at the midpoint of
    * the day range. The first half becomes the per-group reference value
    * histogram, bounded by the metric's value cardinality (the same bound
    * the streaming state carries), never by rows — the one collect here is
    * model-sized by construction. The second half is the (grp, cents)
    * arrivals. None on an empty events table, whose NULL min/max bound no
    * split: the oracles' `WHERE n > 0` face is then the empty frame.
    */
  private def halvesByDay(
      s: SparkSession, d: String): Option[(Map[String, Map[Long, Long]], DataFrame)] = {
    val ev = Tables.events(s, d).select(col("event_type").as("grp"),
      unix_date(col("ts").cast("date")).cast("long").as("di"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val b = ev.agg(min(col("di")).as("d0"), max(col("di")).as("d1")).collect().head
    Option.when(!b.isNullAt(0)) {
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val ref = ev.filter(col("di") <= mid)
        .groupBy(col("grp"), col("cents")).agg(count(lit(1)).as("c"))
        .collect().groupBy(_.getString(0))
        .map { case (g, rows) => g -> rows.map(r => r.getLong(1) -> r.getLong(2)).toMap }
      (ref, ev.filter(col("di") > mid).select(col("grp"), col("cents")))
    }
  }

  /** The incremental/streaming face of `x_ks_drift` — the per-source drift
    * gate a pipeline runs as shards ARRIVE, not after the fact: the
    * first-half-of-log reference CDF per event_type is persisted model state
    * (value-cardinality-bounded — the integral-cents contract, ≤ ~49 002
    * entries/group, the AnnIndex serving pattern), and the second half flows
    * through [[graft.streaming.RainStorm.ksStream]], which folds each
    * micro-batch into the per-group arrival histogram and emits the
    * cumulative exact-integer KS readout. Run here on a single batch frame
    * (the `x_curation_video_incremental` convention) so the streaming
    * OPERATOR ITSELF is what the oracle checks; the multi-batch replay and
    * its final-snapshot-equals-batch contract are pinned in
    * RainStormStreamingSpec. Unlike the global `x_ks_drift`, this face
    * reads per-GROUP drift (one readout per event_type), which is also why
    * its state distributes (the ewmaStream 5-key precedent).
    */
  val ksDriftIncremental = Q(
    "x_ks_drift_incremental",
    (s, d) => {
      import s.implicits._
      halvesByDay(s, d).fold(s.emptyDataset[graft.streaming.RainStorm.KsRow].toDF()) {
        case (ref, arrivals) =>
          graft.streaming.RainStorm.ksStream(s, arrivals, ref).toDF().orderBy("grp")
      }
    },
    Some("""WITH e AS (
              SELECT event_type AS grp,
                CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS di,
                CAST(round(value * 100) AS BIGINT) AS cents
              FROM events),
            b AS (SELECT min(di) AS d0, max(di) AS d1 FROM e),
            h AS (
              SELECT grp, cents,
                CAST(sum(CASE WHEN di <= (d0 + d1) // 2 THEN 1 ELSE 0 END) AS BIGINT) AS cr,
                CAST(sum(CASE WHEN di <= (d0 + d1) // 2 THEN 0 ELSE 1 END) AS BIGINT) AS cs
              FROM e, b GROUP BY 1, 2),
            c AS (
              SELECT grp, cents,
                CAST(sum(cs) OVER (PARTITION BY grp ORDER BY cents) AS BIGINT) AS cums,
                CAST(sum(cr) OVER (PARTITION BY grp ORDER BY cents) AS BIGINT) AS cumr
              FROM h),
            t AS (SELECT grp, CAST(sum(cs) AS BIGINT) AS ns,
                         CAST(sum(cr) AS BIGINT) AS nr FROM h GROUP BY 1),
            v AS (SELECT c.grp, abs(cums * nr - cumr * ns) AS dev, ns, nr
                  FROM c JOIN t ON c.grp = t.grp),
            m AS (SELECT grp, max(dev) AS d_num, max(ns) AS ns, max(nr) AS nr
                  FROM v GROUP BY 1)
            SELECT grp, ns AS n_stream,
              CAST(CASE WHEN ns * nr = 0 THEN 0
                ELSE (CAST(d_num AS HUGEINT) * 1000000) // (ns * nr) END
                AS BIGINT) AS d_ppm,
              CAST(CASE WHEN ns * nr = 0 THEN 0
                WHEN CAST(d_num AS HUGEINT) * d_num * 1000000
                  > CAST(1844164 AS HUGEINT) * (ns + nr) * ns * nr
                THEN 1 ELSE 0 END AS BIGINT) AS drifted
            FROM m WHERE ns > 0 ORDER BY grp""")
  )

  /** The incremental/streaming face of `x_mannwhitney_u` — completing the
    * rank-statistics family's batch/streaming symmetry (every other
    * monitoring statistic here pairs a batch face with an arriving one: KS,
    * funnel, CDC, ER, skyline). Same frame as `x_ks_drift_incremental`: the
    * first-half-of-log per-event_type value histogram is persisted reference
    * state (value-cardinality-bounded), the second half flows through
    * [[graft.streaming.RainStorm.mannWhitneyStream]], and the readout per
    * group is the stream arm's doubled U plus the tie-corrected asymptotic z
    * — "did this source's arriving metric become stochastically larger than
    * its reference shard?", the order-shift gate where KS is the shape-drift
    * gate. Run here on a single batch frame (the
    * `x_curation_video_incremental` convention) so the streaming OPERATOR
    * ITSELF is what the oracle checks; the multi-batch replay and its
    * final-snapshot-equals-batch contract are pinned in
    * RainStormStreamingSpec.
    */
  val mannWhitneyIncremental = Q(
    "x_mannwhitney_incremental",
    (s, d) => {
      import s.implicits._
      halvesByDay(s, d).fold(s.emptyDataset[graft.streaming.RainStorm.MwRow].toDF()) {
        case (ref, arrivals) =>
          graft.streaming.RainStorm.mannWhitneyStream(s, arrivals, ref).toDF().orderBy("grp")
      }
    },
    Some(s"""WITH e AS (
              SELECT event_type AS grp,
                CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS di,
                CAST(round(value * 100) AS BIGINT) AS cents
              FROM events),
            bd AS (SELECT min(di) AS d0, max(di) AS d1 FROM e),
            h AS (
              SELECT grp, cents,
                CAST(sum(CASE WHEN di <= (d0 + d1) // 2 THEN 1 ELSE 0 END) AS BIGINT) AS cr,
                CAST(sum(CASE WHEN di <= (d0 + d1) // 2 THEN 0 ELSE 1 END) AS BIGINT) AS cs
              FROM e, bd GROUP BY 1, 2),
            c AS (
              SELECT grp, cents, cr, cs,
                COALESCE(sum(cr + cs) OVER (PARTITION BY grp ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
              FROM h),
            a AS (
              SELECT grp,
                CAST(sum(cs) AS BIGINT) AS n_a, CAST(sum(cr) AS BIGINT) AS n_b,
                CAST(sum(cs * (2 * cb + cr + cs + 1)) AS BIGINT) AS r1x2,
                CAST(sum(CAST(cr + cs AS HUGEINT) * (cr + cs) * (cr + cs) - (cr + cs))
                  AS BIGINT) AS tie_cubes
              FROM c GROUP BY 1),
            b AS (
              SELECT grp, n_a, n_b, CAST(r1x2 - n_a * (n_a + 1) AS BIGINT) AS u_a_x2,
                tie_cubes
              FROM a),
            z AS (
              SELECT *, $zShape AS z FROM b)
            SELECT grp, n_a AS n_stream, u_a_x2,
              CAST(floor(z * 1000 + 0.5) AS BIGINT) AS z_milli,
              CAST(CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END AS BIGINT) AS significant
            FROM z WHERE n_a > 0 ORDER BY grp""")
  )

  /** The event_type domain is SCHEMA-bounded (5 values) — the
    * `x_chi2_independence` "15 cells" precedent — so the per-group results
    * pivot onto ONE row with fixed columns and the final H statistic is a
    * scalar expression over named columns: no SUM over a variable number of
    * double rows, hence no IEEE summation-order nondeterminism between
    * engines.
    */
  private val kwTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Tie-corrected Kruskal–Wallis H in the identical double shape on both
    * engines, over the pivoted one-row frame: per-group count m_<t> and
    * doubled rank-sum deviation d_<t> = 2·R_t − m_t·(n+1) (both BIGINT), plus
    * n and ties = Σ t³−t. Using Σ_j m_j·(R̄_j − (n+1)/2)² = Σ_j d_j²/(4·m_j),
    * H = [12/(n(n+1))]·Σ d_j²/(4 m_j) / corr = 3·Σ(d_j²/m_j)/(n(n+1))/corr
    * with corr = 1 − ties/(n³−n). Degenerate frames (n < 2, a single group,
    * or all values tied so corr ≤ 0) pin H = 0.
    */
  private val hShape = {
    val sumTerm = kwTypes.map(t =>
      s"CASE WHEN m_$t > 0 THEN CAST(d_$t AS DOUBLE) * CAST(d_$t AS DOUBLE) " +
        s"/ CAST(m_$t AS DOUBLE) ELSE 0.0 END").mkString("(", " + ", ")")
    val corr = "(1.0 - CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE) * " +
      "CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))"
    s"""CASE WHEN n < 2 OR k < 2 THEN 0.0
       |     WHEN $corr <= 0.0 THEN 0.0
       |     ELSE 3.0 * $sumTerm
       |          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) / $corr
       |END""".stripMargin
  }

  /** χ² critical values at α = 0.05 in milli, df = k−1 for k = 2…5 groups. */
  private val kwCrit =
    "(CASE k WHEN 2 THEN 3841 WHEN 3 THEN 5991 WHEN 4 THEN 7815 WHEN 5 THEN 9488 ELSE 0 END)"

  /** Kruskal–Wallis one-way rank ANOVA across the five event_type arms on
    * per-event metric value in cents — the k-sample extension of
    * `x_mannwhitney_u` (Kruskal & Wallis 1952): "does ANY source's metric
    * distribution sit systematically higher or lower than the others?",
    * with no normality assumption and the standard average-rank tie
    * treatment. The omnibus gate a pipeline runs before drilling into
    * pairwise Mann–Whitney comparisons.
    *
    * Exact integers to the last step: the corpus collapses to the per-cents
    * VALUE HISTOGRAM split by group (one hash exchange), the global
    * cumulative-before count comes from ONE [[Layout.twoPhasePrefixSumBefore]]
    * pass over the value histogram (never a corpus window), and each group's
    * doubled rank sum 2·R_j = Σ_v c_j(v)·(2·cb(v) + t(v) + 1) and deviation
    * d_j = 2R_j − m_j(n+1) are exact BIGINTs (|d_j| ≤ m_j·(n−1): exact while
    * m_j·n < 2⁶³ ≈ 10¹⁸·9, far past any tested scale; internal sums run in
    * DECIMAL(38,0)). The one IEEE step is the final H ratio over the ONE
    * pivoted row in the identical expression shape on both engines
    * ([[hShape]] — the zShape precedent). Published h_milli is the rounded
    * tie-corrected H; significance is the χ²(k−1) gate at α = 0.05.
    */
  val kruskalWallis = Q(
    "x_kruskal_wallis",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type").as("grp"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val hist = ev.groupBy(col("cents"), col("grp")).agg(count(lit(1)).as("c"))
        .truncateLineage()
      val vhist = hist.groupBy(col("cents")).agg(sum(col("c")).as("t"))
        .truncateLineage()
      val cum = Layout.twoPhasePrefixSumBefore(vhist, "cb", col("t"), col("cents"))
      val per = hist.join(cum.select(col("cents"), col("cb"), col("t")), Seq("cents"))
        .groupBy(col("grp"))
        .agg(sum(col("c")).as("m"),
          sum(col("c").cast("decimal(38,0)") *
            (lit(2L) * col("cb") + col("t") + lit(1L))).as("r2"))
      val tot = vhist.agg(sum(col("t")).as("n"),
        sum({
          val t = col("t").cast("decimal(12,0)")
          t * t * t - t
        }).cast("long").as("ties"))
      val pivotCols = kwTypes.flatMap(t => Seq(
        coalesce(sum(when(col("grp") === t, col("m"))), lit(0L)).as(s"m_$t"),
        coalesce(sum(when(col("grp") === t, col("dd"))), lit(0L)).as(s"d_$t")))
      per.join(broadcast(tot), lit(true), "inner")
        .withColumn("dd",
          (col("r2") - col("m").cast("decimal(38,0)") * (col("n") + lit(1L)))
            .cast("long"))
        .groupBy()
        .agg(max(col("n")).as("n"),
          (max(col("ties")).as("ties") +: pivotCols): _*)
        .filter(col("n").isNotNull)
        .withColumn("k",
          kwTypes.map(t => when(col(s"m_$t") > 0, 1L).otherwise(0L)).reduce(_ + _))
        .withColumn("h", expr(hShape))
        .select(col("n"), col("k"),
          expr("CAST(floor(h * 1000 + 0.5) AS BIGINT)").as("h_milli"))
        .withColumn("significant",
          expr(s"CAST(CASE WHEN k >= 2 AND h_milli > $kwCrit THEN 1 ELSE 0 END AS BIGINT)"))
    },
    Some {
      val pivotSql = kwTypes.map(t =>
        s"""CAST(COALESCE(sum(CASE WHEN grp = '$t' THEN m END), 0) AS BIGINT) AS m_$t,
           |    CAST(COALESCE(sum(CASE WHEN grp = '$t' THEN dd END), 0) AS BIGINT) AS d_$t""".stripMargin)
        .mkString(",\n    ")
      val kSql = kwTypes.map(t => s"(CASE WHEN m_$t > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH e AS (SELECT event_type AS grp,
                CAST(round(value * 100) AS BIGINT) AS cents FROM events),
            h AS (SELECT cents, grp, CAST(count(*) AS BIGINT) AS c
                  FROM e GROUP BY 1, 2),
            v AS (SELECT cents, CAST(sum(c) AS BIGINT) AS t FROM h GROUP BY 1),
            cu AS (SELECT cents, t,
                COALESCE(sum(t) OVER (ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
              FROM v),
            p AS (SELECT grp, CAST(sum(c) AS BIGINT) AS m,
                CAST(sum(CAST(c AS HUGEINT) * (2 * cb + t + 1)) AS BIGINT) AS r2
              FROM h JOIN cu USING (cents) GROUP BY 1),
            tt AS (SELECT CAST(sum(t) AS BIGINT) AS n,
                CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS BIGINT) AS ties FROM v),
            w AS (SELECT grp, m, CAST(r2 - m * (n + 1) AS BIGINT) AS dd, n, ties
                  FROM p, tt),
            one AS (SELECT max(n) AS n, max(ties) AS ties,
                $pivotSql
              FROM w),
            kk AS (SELECT *, CAST($kSql AS BIGINT) AS k FROM one),
            hh AS (SELECT *, $hShape AS h FROM kk),
            hm AS (SELECT n, k, CAST(floor(h * 1000 + 0.5) AS BIGINT) AS h_milli
                   FROM hh)
            SELECT n, k, h_milli,
              CAST(CASE WHEN k >= 2 AND h_milli > $kwCrit
                THEN 1 ELSE 0 END AS BIGINT) AS significant
            FROM hm WHERE n IS NOT NULL"""
    }
  )

  /** The asymptotic-normal z for the Wilcoxon signed-rank statistic, in the
    * identical double shape on both engines. Inputs (all BIGINT): n_pairs
    * (nonzero differences), w_plus_x2 (= 2·W⁺, doubled so tied half-ranks
    * stay integral), tie_cubes (= Σ t³−t over |d|-tie groups).
    * z = (W⁺ − n(n+1)/4)/sqrt(Var), Var = n(n+1)(2n+1)/24 − Σ(t³−t)/48 —
    * expressed on the doubled scale: numerator (w_plus_x2 − n(n+1)/2)/...
    * i.e. (2W⁺ − n(n+1)/2·2)… concretely z = (CAST(w_plus_x2) − n(n+1)/2)
    * / sqrt(4·Var) with 4·Var = n(n+1)(2n+1)/6 − tie_cubes/12. Degenerate
    * frames (n = 0 or zero variance when every |d| ties to nothing) pin
    * z = 0 via CASE on both engines.
    */
  private val wShape =
    """CASE WHEN n_pairs = 0 THEN 0.0
      |     WHEN CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0)
      |            * (2.0 * CAST(n_pairs AS DOUBLE) + 1.0) / 6.0
      |          - CAST(tie_cubes AS DOUBLE) / 12.0 <= 0.0 THEN 0.0
      |     ELSE (CAST(w_plus_x2 AS DOUBLE)
      |           - CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0) / 2.0)
      |          / sqrt(CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0)
      |            * (2.0 * CAST(n_pairs AS DOUBLE) + 1.0) / 6.0
      |            - CAST(tie_cubes AS DOUBLE) / 12.0)
      |END""".stripMargin

  /** Wilcoxon signed-rank test on PAIRED per-user pre/post metric sums —
    * "did the same users' spend shift after the midpoint?" — the paired
    * sibling of `x_mannwhitney_u` (Wilcoxon 1945) and the nonparametric
    * counterpart of `x_ab_cuped`'s pre/post framing. Differences d_u =
    * post − pre in cents; zero differences drop by the standard convention;
    * ranks are average ranks of |d|; W⁺ is the rank sum over d > 0.
    *
    * Exact integers until the final z: the corpus collapses to per-user
    * (pre, post) sums (one hash exchange), then to the |d| VALUE HISTOGRAM
    * split by sign (one more — value-cardinality-sized), and the doubled
    * rank sum 2·W⁺ = Σ_v c⁺(v)·(2·cum_before(v) + t(v) + 1) needs only one
    * [[Layout.twoPhasePrefixSumBefore]] pass — never a corpus-sized window.
    * tie_cubes carries the exact variance correction (sums in
    * DECIMAL(38,0); published BIGINT). The one IEEE step is [[wShape]] in
    * the identical expression on both engines.
    */
  val wilcoxonSignedRank = Q(
    "x_wilcoxon_signed_rank",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        unix_date(col("ts").cast("date")).cast("long").as("di"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val b = ev.agg(min(col("di")).as("d0"), max(col("di")).as("d1")).collect().head
      if (b.isNullAt(0)) {
        // Empty events: the global fold still publishes ONE all-zero row on
        // both engines (the oracle COALESCEs its NULL empty-sum row to the
        // same zeros; z = 0 via the n_pairs = 0 guard).
        import s.implicits._
        s.createDataset(Seq((0L, 0L, 0L, 0L, 0L)))
          .toDF("n_pairs", "w_plus_x2", "tie_cubes", "z_milli", "significant")
      } else {
        val mid = (b.getLong(0) + b.getLong(1)) / 2
        val diffs = ev
          .groupBy(col("user_id"))
          .agg(
            sum(when(col("di") <= mid, col("cents")).otherwise(0L)).as("pre"),
            sum(when(col("di") > mid, col("cents")).otherwise(0L)).as("post"))
          .select((col("post") - col("pre")).as("dd"))
          .filter(col("dd") =!= 0L)
        val hist = diffs.groupBy(abs(col("dd")).as("ad"))
          .agg(
            sum(when(col("dd") > 0, 1L).otherwise(0L)).as("cp"),
            sum(when(col("dd") < 0, 1L).otherwise(0L)).as("cn"))
          .truncateLineage()
        val cum = Layout.twoPhasePrefixSumBefore(
          hist, "cb", col("cp") + col("cn"), col("ad"))
        cum.agg(
            coalesce(sum(col("cp") + col("cn")), lit(0L)).as("n_pairs"),
            coalesce(
              sum(col("cp").cast("decimal(38,0)") *
                (lit(2L) * col("cb") + col("cp") + col("cn") + lit(1L)))
                .cast("long"), lit(0L)).as("w_plus_x2"),
            coalesce(
              sum({
                val t = (col("cp") + col("cn")).cast("decimal(12,0)")
                t * t * t - t
              }).cast("long"), lit(0L)).as("tie_cubes"))
          .withColumn("z", expr(wShape))
          .select(col("n_pairs"), col("w_plus_x2"), col("tie_cubes"),
            expr("CAST(floor(z * 1000 + 0.5) AS BIGINT)").as("z_milli"),
            expr("CAST(CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END AS BIGINT)")
              .as("significant"))
          .drop("z")
      }
    },
    Some(s"""WITH e AS (
              SELECT user_id,
                CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS di,
                CAST(round(value * 100) AS BIGINT) AS cents
              FROM events),
            bd AS (SELECT min(di) AS d0, max(di) AS d1 FROM e),
            u AS (
              SELECT user_id,
                CAST(sum(CASE WHEN di <= (d0 + d1) // 2 THEN cents ELSE 0 END) AS BIGINT) AS pre,
                CAST(sum(CASE WHEN di <= (d0 + d1) // 2 THEN 0 ELSE cents END) AS BIGINT) AS post
              FROM e, bd GROUP BY 1),
            dv AS (SELECT post - pre AS dd FROM u WHERE post - pre <> 0),
            h AS (
              SELECT abs(dd) AS ad,
                CAST(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cp,
                CAST(sum(CASE WHEN dd < 0 THEN 1 ELSE 0 END) AS BIGINT) AS cn
              FROM dv GROUP BY 1),
            c AS (
              SELECT ad, cp, cn,
                COALESCE(sum(cp + cn) OVER (ORDER BY ad
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
              FROM h),
            a AS (
              SELECT CAST(COALESCE(sum(cp + cn), 0) AS BIGINT) AS n_pairs,
                CAST(COALESCE(sum(CAST(cp AS HUGEINT) * (2 * cb + cp + cn + 1)), 0)
                  AS BIGINT) AS w_plus_x2,
                CAST(COALESCE(sum(CAST(cp + cn AS HUGEINT) * (cp + cn) * (cp + cn)
                  - (cp + cn)), 0) AS BIGINT) AS tie_cubes
              FROM c),
            z AS (SELECT *, $wShape AS z FROM a)
            SELECT n_pairs, w_plus_x2, tie_cubes,
              CAST(floor(z * 1000 + 0.5) AS BIGINT) AS z_milli,
              CAST(CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END AS BIGINT) AS significant
            FROM z""")
  )

  /** Poisson(1) inverse CDF over a 31-bit uniform: weight k iff
    * hv < floor(P(X ≤ k)·(2³¹−1)), capped at 9 (P > 9 ≈ 1.1e-6). The
    * thresholds are fixed integer literals so both engines draw the exact
    * same weight from the same hash value.
    */
  private val poissonWt =
    """CASE WHEN hv < 790015083 THEN 0 WHEN hv < 1580030167 THEN 1
      |     WHEN hv < 1975037709 THEN 2 WHEN hv < 2106706890 THEN 3
      |     WHEN hv < 2139624185 THEN 4 WHEN hv < 2146207644 THEN 5
      |     WHEN hv < 2147304887 THEN 6 WHEN hv < 2147461637 THEN 7
      |     WHEN hv < 2147481230 THEN 8 ELSE 9 END""".stripMargin

  /** Poisson-bootstrap 95% confidence interval for the A/B arm mean-spend
    * difference — the assumption-free INTERVAL readout completing the
    * experimentation family: `x_abtest_significance` gives the normal z,
    * `x_permutation_test` the randomization p, `x_mannwhitney_u` the rank
    * order-shift; this gives the effect-size interval. The Poisson
    * bootstrap (Chamandy et al. 2012, "Estimating uncertainty for massive
    * data streams") is THE resampling scheme for data too large to index:
    * each of k = 64 fixed replicates re-weights every user independently by
    * a Poisson(1) draw — no sampling pass, no global coordination, one
    * corpus read.
    *
    * Determinism without an RNG (the `x_permutation_test` convention):
    * replicate s draws user u's weight from the scatter-then-square mixer
    * hv = ((A_s·u + B_s) mod M)² mod M with M = 2³¹−1, A_s =
    * (2246822519·(2s+5)) mod M, B_s = 15485863·s (constants disjoint from
    * the permutation designs), pushed through the fixed integer Poisson
    * thresholds [[poissonWt]] — squares of an affine orbit equidistribute
    * mod M (quadratic-residue bias is O(M^{-1/2}); RankStatsSpec verifies
    * empirical mean/variance ≈ 1 per replicate). All products stay below
    * 2⁶³; both engines evaluate the identical closed form.
    *
    * The statistic is exact-integer end to end: per replicate,
    * v_s = (S₁·10⁶) div N₁ − (S₀·10⁶) div N₀ in micro-cents (weighted sums
    * in DECIMAL(38,0); truncating integer division — engine-identical), a
    * one-arm replicate (N = 0) is excluded, and the CI is the order
    * statistics of the ≤64 v_s values at ranks (k·25 div 1000)+1 and
    * k − (k·25 div 1000) — a sorted 64-element ARRAY fold
    * (`sort_array(collect_list(...))`), never a window. significant =
    * the interval excludes 0.
    *
    * Scale shape: ONE corpus pass to per-user sums (hash exchange), then
    * the 64-replicate posexplode whose per-partition partial aggregation
    * collapses to 64 rows BEFORE the exchange (the `x_countmin` cell
    * pattern) — the sweep shuffles 64·partitions rows, never 64·corpus.
    */
  val bootstrapCi = Q(
    "x_bootstrap_ci",
    (s, d) => {
      val users = Tables.events(s, d)
        .select(col("user_id"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy(col("user_id"))
        .agg(sum(col("cents")).as("spend"))
        .truncateLineage()
      val obs = users
        .withColumn("arm", pmod(col("user_id"), lit(2)))
        .agg(
          coalesce(sum(when(col("arm") === 1, col("spend")).otherwise(0L))
            .cast("decimal(38,0)"), lit(0L).cast("decimal(38,0)")).as("s1"),
          coalesce(sum(when(col("arm") === 1, 1L).otherwise(0L)), lit(0L)).as("n1"),
          coalesce(sum(when(col("arm") === 0, col("spend")).otherwise(0L))
            .cast("decimal(38,0)"), lit(0L).cast("decimal(38,0)")).as("s0"),
          coalesce(sum(when(col("arm") === 0, 1L).otherwise(0L)), lit(0L)).as("n0"))
        .select(
          (col("n0") + col("n1")).as("n_users"),
          expr("""CAST(CASE WHEN n0 > 0 AND n1 > 0
                  THEN (s1 * 1000000) div n1 - (s0 * 1000000) div n0
                  ELSE 0 END AS BIGINT)""").as("obs_diff_micro"))
      val reps = users
        .select(col("user_id"), col("spend"),
          pmod(col("user_id"), lit(2)).as("arm"),
          posexplode(array((0 until 64).map(lit): _*)).as(Seq("s", "zero")))
        .withColumn("hv",
          expr("""(((2246822519 * (2 * s + 5)) % 2147483647) * (user_id % 2147483647)
                  + 15485863 * s) % 2147483647"""))
        .withColumn("hv", expr("(hv * hv) % 2147483647"))
        .withColumn("wt", expr(poissonWt))
        .groupBy(col("s"))
        .agg(
          sum(when(col("arm") === 1, col("wt") * col("spend")).otherwise(0L))
            .cast("decimal(38,0)").as("s1"),
          sum(when(col("arm") === 1, col("wt")).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 0, col("wt") * col("spend")).otherwise(0L))
            .cast("decimal(38,0)").as("s0"),
          sum(when(col("arm") === 0, col("wt")).otherwise(0L)).as("n0"))
        .filter(col("n0") > 0 && col("n1") > 0)
        .select(expr("""CAST((s1 * 1000000) div n1 - (s0 * 1000000) div n0
                        AS BIGINT)""").as("v"))
      reps.agg(
          count(lit(1)).as("k_designs"),
          sort_array(collect_list(col("v"))).as("vs"))
        .join(broadcast(obs), lit(true), "inner")
        .select(col("n_users"), col("k_designs"), col("obs_diff_micro"),
          expr("""CASE WHEN k_designs > 0
                  THEN element_at(vs, CAST((k_designs * 25) div 1000 + 1 AS INT))
                  ELSE CAST(0 AS BIGINT) END""").as("ci_lo_micro"),
          expr("""CASE WHEN k_designs > 0
                  THEN element_at(vs, CAST(k_designs - (k_designs * 25) div 1000 AS INT))
                  ELSE CAST(0 AS BIGINT) END""").as("ci_hi_micro"))
        .withColumn("significant",
          expr("""CAST(CASE WHEN k_designs > 0
                  AND (ci_lo_micro > 0 OR ci_hi_micro < 0)
                  THEN 1 ELSE 0 END AS BIGINT)"""))
    },
    Some(s"""WITH u AS (
              SELECT user_id,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend
              FROM events GROUP BY 1),
            o AS (
              SELECT
                CAST(COALESCE(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END), 0)
                  + COALESCE(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_users,
                CAST(CASE WHEN COALESCE(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END), 0) > 0
                       AND COALESCE(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END), 0) > 0
                  THEN (sum(CASE WHEN user_id % 2 = 1 THEN CAST(spend AS HUGEINT) ELSE 0 END)
                         * 1000000) // sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                     - (sum(CASE WHEN user_id % 2 = 0 THEN CAST(spend AS HUGEINT) ELSE 0 END)
                         * 1000000) // sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  ELSE 0 END AS BIGINT) AS obs_diff_micro
              FROM u),
            w AS (
              SELECT s.s, u.spend, u.user_id % 2 AS arm,
                ((((2246822519 * (2 * s.s + 5)) % 2147483647) * (u.user_id % 2147483647)
                  + 15485863 * s.s) % 2147483647) AS w1
              FROM u CROSS JOIN (SELECT unnest(range(0, 64)) AS s) s),
            ww AS (SELECT s, spend, arm, (w1 * w1) % 2147483647 AS hv FROM w),
            wts AS (SELECT s, spend, arm, $poissonWt AS wt FROM ww),
            p AS (
              SELECT s,
                sum(CASE WHEN arm = 1 THEN CAST(wt AS HUGEINT) * spend ELSE 0 END) AS s1,
                CAST(sum(CASE WHEN arm = 1 THEN wt ELSE 0 END) AS BIGINT) AS n1,
                sum(CASE WHEN arm = 0 THEN CAST(wt AS HUGEINT) * spend ELSE 0 END) AS s0,
                CAST(sum(CASE WHEN arm = 0 THEN wt ELSE 0 END) AS BIGINT) AS n0
              FROM wts GROUP BY 1),
            v AS (
              SELECT CAST((s1 * 1000000) // n1 - (s0 * 1000000) // n0 AS BIGINT) AS v
              FROM p WHERE n0 > 0 AND n1 > 0),
            a AS (
              SELECT CAST(count(*) AS BIGINT) AS k_designs,
                list(v ORDER BY v) AS vs
              FROM v)
            SELECT o.n_users, a.k_designs, o.obs_diff_micro,
              CAST(CASE WHEN a.k_designs > 0
                THEN vs[CAST((a.k_designs * 25) // 1000 + 1 AS INT)]
                ELSE 0 END AS BIGINT) AS ci_lo_micro,
              CAST(CASE WHEN a.k_designs > 0
                THEN vs[CAST(a.k_designs - (a.k_designs * 25) // 1000 AS INT)]
                ELSE 0 END AS BIGINT) AS ci_hi_micro,
              CAST(CASE WHEN a.k_designs > 0
                AND (CASE WHEN a.k_designs > 0
                       THEN vs[CAST((a.k_designs * 25) // 1000 + 1 AS INT)]
                       ELSE 0 END > 0
                  OR CASE WHEN a.k_designs > 0
                       THEN vs[CAST(a.k_designs - (a.k_designs * 25) // 1000 AS INT)]
                       ELSE 0 END < 0)
                THEN 1 ELSE 0 END AS BIGINT) AS significant
            FROM a, o""")
  )

  /** The incremental/streaming face of `x_bootstrap_ci` — the
    * experimentation family's third batch/streaming pair (r16 verdict #4:
    * KS ✓ shape, Mann–Whitney ✓ order, this ✓ the effect-size INTERVAL as
    * data arrives). The Poisson bootstrap is the one resampling scheme
    * whose replicates are PURE FOLDS (Chamandy et al. 2012): replicate s
    * re-weights each arriving row by a deterministic Poisson(1) draw from
    * the row's stable key, so the per-group state is 64 fixed
    * (s1,n1,s0,n0) tuples plus the observed sums — never a row of data.
    * Granularity follows the incremental-face convention (per event_type
    * group, the ksStream precedent) and the arriving UNIT is the event
    * (mean value per event; the batch face bootstraps per user — a user's
    * spend is not a pure event fold once arrivals split it). All events
    * flow through [[graft.streaming.RainStorm.bootstrapCiStream]] as a
    * single batch frame (the `x_curation_video_incremental` convention) so
    * the streaming OPERATOR ITSELF is what the oracle checks; the
    * multi-batch replay and its final-snapshot-equals-batch contract are
    * pinned in RainStormStreamingSpec.
    */
  val bootstrapCiIncremental = Q(
    "x_bootstrap_ci_incremental",
    (s, d) => {
      val arrivals = Tables.events(s, d).select(
        col("event_type").as("grp"),
        col("event_id").cast("long").as("ek"),
        pmod(col("user_id"), lit(2)).cast("long").as("arm"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      graft.streaming.RainStorm.bootstrapCiStream(s, arrivals).toDF().orderBy("grp")
    },
    Some(s"""WITH e AS (
              SELECT event_type AS grp, event_id AS ek, user_id % 2 AS arm,
                CAST(round(value * 100) AS BIGINT) AS cents
              FROM events),
            o AS (
              SELECT grp, CAST(count(*) AS BIGINT) AS n_events,
                sum(CASE WHEN arm = 1 THEN CAST(cents AS HUGEINT) ELSE 0 END) AS os1,
                CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS on1,
                sum(CASE WHEN arm = 0 THEN CAST(cents AS HUGEINT) ELSE 0 END) AS os0,
                CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS on0
              FROM e GROUP BY 1),
            w AS (
              SELECT e.grp, e.arm, e.cents, s.s,
                ((((2246822519 * (2 * s.s + 5)) % 2147483647) * (e.ek % 2147483647)
                  + 15485863 * s.s) % 2147483647) AS w1
              FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS s) s),
            ww AS (SELECT grp, s, arm, cents, (w1 * w1) % 2147483647 AS hv FROM w),
            wts AS (SELECT grp, s, arm, cents, $poissonWt AS wt FROM ww),
            p AS (
              SELECT grp, s,
                sum(CASE WHEN arm = 1 THEN CAST(wt AS HUGEINT) * cents ELSE 0 END) AS s1,
                CAST(sum(CASE WHEN arm = 1 THEN wt ELSE 0 END) AS BIGINT) AS n1,
                sum(CASE WHEN arm = 0 THEN CAST(wt AS HUGEINT) * cents ELSE 0 END) AS s0,
                CAST(sum(CASE WHEN arm = 0 THEN wt ELSE 0 END) AS BIGINT) AS n0
              FROM wts GROUP BY 1, 2),
            v AS (
              SELECT grp,
                CAST((s1 * 1000000) // n1 - (s0 * 1000000) // n0 AS BIGINT) AS v
              FROM p WHERE n0 > 0 AND n1 > 0),
            a AS (
              SELECT grp, CAST(count(*) AS BIGINT) AS k_designs,
                list(v ORDER BY v) AS vs
              FROM v GROUP BY 1),
            f AS (
              SELECT o.grp, o.n_events,
                COALESCE(a.k_designs, 0) AS k_designs,
                CAST(CASE WHEN o.on0 > 0 AND o.on1 > 0
                  THEN (o.os1 * 1000000) // o.on1 - (o.os0 * 1000000) // o.on0
                  ELSE 0 END AS BIGINT) AS obs_diff_micro,
                CAST(CASE WHEN COALESCE(a.k_designs, 0) > 0
                  THEN vs[CAST((a.k_designs * 25) // 1000 + 1 AS INT)]
                  ELSE 0 END AS BIGINT) AS ci_lo_micro,
                CAST(CASE WHEN COALESCE(a.k_designs, 0) > 0
                  THEN vs[CAST(a.k_designs - (a.k_designs * 25) // 1000 AS INT)]
                  ELSE 0 END AS BIGINT) AS ci_hi_micro
              FROM o LEFT JOIN a ON o.grp = a.grp)
            SELECT grp, n_events, k_designs, obs_diff_micro, ci_lo_micro,
              ci_hi_micro,
              CAST(CASE WHEN k_designs > 0
                AND (ci_lo_micro > 0 OR ci_hi_micro < 0)
                THEN 1 ELSE 0 END AS BIGINT) AS significant
            FROM f ORDER BY grp""")
  )

  /** Cochran–Armitage z in the identical double shape on both engines, from
    * the four integer witnesses: a_num = Σ_k s_k·(n·r_k − n_k·R) (n·T on the
    * common-denominator scale), b_sum = n·Σ s_k²·n_k − (Σ s_k·n_k)², total n
    * and converter total R. z = T/sqrt(Var) with Var = p̄(1−p̄)·B/n² reduces
    * to a_num / sqrt(R·(n−R)·B/n). Degenerate frames (no users, all or no
    * converters, or zero score spread B) pin z = 0.
    */
  private val caShape =
    """CASE WHEN n_users = 0 OR r_total = 0 OR r_total = n_users OR b_sum <= 0
      |       THEN 0.0
      |     ELSE CAST(a_num AS DOUBLE)
      |          / sqrt(CAST(r_total AS DOUBLE) * CAST(n_users - r_total AS DOUBLE)
      |            * CAST(b_sum AS DOUBLE) / CAST(n_users AS DOUBLE))
      |END""".stripMargin

  /** Cochran–Armitage test for TREND in proportions across ordered exposure
    * buckets (Cochran 1954; Armitage 1955) — "does conversion propensity
    * rise monotonically with activity level?", the dose-response gate of the
    * experimentation family: χ²-independence (`x_chi2_independence`) asks IF
    * outcome depends on group; this asks whether it trends WITH an ordered
    * score, which is the question a pipeline actually has about
    * engagement/exposure tiers. Users bucket by capped event count
    * (k = min(events, 8) — eight ordered buckets (k = 1..8) by
    * construction: users derive from events so every user has ≥1 event and
    * bucket 0 is unreachable; the pivot stays schema-bounded), outcome =
    * "has a purchase event", scores s_k = k.
    *
    * Exact integers to the last step: one corpus pass to per-user
    * (count, converted) rows, one bucket fold to ≤8 rows, and the statistic's
    * witnesses on the common-denominator scale — a_num = Σ s_k(n·r_k − n_k·R)
    * = n²·T̄-numerator and b_sum = n·Σs_k²n_k − (Σs_k n_k)² — are BIGINTs
    * (|a_num| ≤ 8·n·R and b_sum ≤ 64·n²: exact while n < ~3.8×10⁸ users —
    * far past any tested scale, and ANSI mode makes an overflow loud, never
    * silent). The one IEEE step is [[caShape]]. No window anywhere; the
    * bucket frame is ≤8 rows.
    */
  val cochranArmitage = Q(
    "x_cochran_armitage",
    (s, d) => {
      val users = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("x"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .select(least(col("x"), lit(8L)).as("k"), col("conv"))
      val buckets = users.groupBy(col("k"))
        .agg(count(lit(1)).as("n_k"), sum(col("conv")).as("r_k"))
      val tot = buckets.agg(
        coalesce(sum(col("n_k")), lit(0L)).as("n_users"),
        coalesce(sum(col("r_k")), lit(0L)).as("r_total"))
      buckets.join(broadcast(tot), lit(true), "inner")
        .groupBy(col("n_users"), col("r_total"))
        .agg(
          sum(col("k") * (col("n_users") * col("r_k") - col("n_k") * col("r_total")))
            .as("a_num"),
          (sum(col("n_k") * col("k") * col("k")) * max(col("n_users"))
            - sum(col("k") * col("n_k")) * sum(col("k") * col("n_k"))).as("b_sum"))
        .withColumn("z", expr(caShape))
        .select(col("n_users"), col("r_total"), col("a_num"), col("b_sum"),
          expr("CAST(floor(z * 1000 + 0.5) AS BIGINT)").as("z_milli"),
          expr("CAST(CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END AS BIGINT)")
            .as("significant"))
    },
    Some(s"""WITH u AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS x,
                CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
              FROM events GROUP BY 1),
            b AS (
              SELECT LEAST(x, 8) AS k, CAST(count(*) AS BIGINT) AS n_k,
                CAST(sum(conv) AS BIGINT) AS r_k
              FROM u GROUP BY 1),
            t AS (SELECT CAST(COALESCE(sum(n_k), 0) AS BIGINT) AS n_users,
                         CAST(COALESCE(sum(r_k), 0) AS BIGINT) AS r_total FROM b),
            a AS (
              SELECT n_users, r_total,
                CAST(sum(k * (n_users * r_k - n_k * r_total)) AS BIGINT) AS a_num,
                CAST(sum(n_k * k * k) * max(n_users)
                  - sum(k * n_k) * sum(k * n_k) AS BIGINT) AS b_sum
              FROM b, t GROUP BY 1, 2),
            z AS (SELECT *, $caShape AS z FROM a)
            SELECT n_users, r_total, a_num, b_sum,
              CAST(floor(z * 1000 + 0.5) AS BIGINT) AS z_milli,
              CAST(CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END AS BIGINT) AS significant
            FROM z""")
  )

  val qs: Seq[Q] = Seq(mannWhitneyU, ksDrift, spearmanCorr, permutationTest,
    ksDriftIncremental, mannWhitneyIncremental, kruskalWallis,
    wilcoxonSignedRank, bootstrapCi, bootstrapCiIncremental, cochranArmitage)
}

