"""Statistical inference queries: two-sample tests, drift, trend,
changepoints, multiple testing and survival."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catalog import query
from catalog._common import _cents, _epoch_sec, _t
from catalog.stats import _dist_cumsum, _dist_rank


@query("""
            WITH base AS (
                SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
                       event_type = 'purchase' AS is_p
                FROM events
                WHERE event_type IN ('purchase', 'click')
            ), per_v AS (
                SELECT cents,
                       CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END)
                            AS BIGINT) AS c1,
                       CAST(SUM(CASE WHEN is_p THEN 0 ELSE 1 END)
                            AS BIGINT) AS c2
                FROM base GROUP BY cents
            ), cum AS (
                SELECT cents,
                       SUM(c1) OVER (ORDER BY cents
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum_c1,
                       SUM(c2) OVER (ORDER BY cents
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum_c2
                FROM per_v
            ), nn AS (
                SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                       CAST(SUM(c2) AS BIGINT) AS n2
                FROM per_v
            ), d AS (
                SELECT MAX(abs(n2 * cum_c1 - n1 * cum_c2)) AS d_num
                FROM cum, nn
            )
            SELECT n1 AS n_purchase, n2 AS n_click,
                   CAST(d_num AS BIGINT) AS d_num,
                   CAST(d_num // (n1 * n2) * 1000000
                        + (d_num % (n1 * n2)) * 1000000 // (n1 * n2)
                   AS BIGINT) AS d_micro
            FROM d, nn
        """)
def q_ks_test_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov two-sample test between purchase and click
    value distributions — the nonparametric WHOLE-DISTRIBUTION test
    beside Mann–Whitney's location test: D = max_v |F₁(v) − F₂(v)|
    over the pooled value domain. Everything integer:
    D·n₁·n₂ = max_v |n₂·C₁(v) − n₁·C₂(v)| where C_g(v) is group g's
    cumulative count — computed by _dist_cumsum over the DISTINCT
    value domain (per-value group counts first, so the prefix sums run
    over the bounded price grid, not the event stream; the running
    totals come from bucket-partitioned windows + a bounded offset
    carry, never a single-partition WindowExec). Output: one row —
    group sizes, the integer D numerator, and d_micro = floor(D·10⁶)
    via the split-division identity. DuckDB replays the identical
    integer construction with its own window cumsum."""
    ev = _t(spark, sf_dir, "events")
    base = ev.filter(
        F.col("event_type").isin("purchase", "click")
    ).select(
        _cents("value").alias("cents"),
        (F.col("event_type") == "purchase").alias("is_p"),
    )
    # materialized once: approxQuantile, the _dist_cumsum offset
    # fetch, and the D-max aggregate each re-ran the events scan +
    # groupBy without it (guide §1.2); n1/n2 also now read off this
    # bounded census instead of a second corpus-sized aggregate.
    per_v = base.groupBy("cents").agg(
        F.sum(F.col("is_p").cast("long")).alias("c1"),
        F.sum((~F.col("is_p")).cast("long")).alias("c2"),
    ).localCheckpoint(eager=False)
    cuts = per_v.stat.approxQuantile(
        "cents", [i / 8 for i in range(1, 8)], 0.001
    )
    cum = _dist_cumsum(
        per_v, "cents", "cents", ["c1", "c2"], [float(c) for c in cuts]
    )
    # D's numerator needs n1/n2, the FINAL cumulative counts — one
    # bounded driver fetch (two longs) keeps the max a single aggregate
    n1, n2 = (
        per_v.agg(F.sum("c1"), F.sum("c2")).collect()[0]
    )
    d = cum.agg(
        F.max(
            F.abs(F.lit(n2) * F.col("cum_c1") - F.lit(n1) * F.col("cum_c2"))
        ).alias("d_num")
    )
    return d.select(
        F.lit(n1).cast("long").alias("n_purchase"),
        F.lit(n2).cast("long").alias("n_click"),
        "d_num",
        F.expr(
            f"d_num DIV ({n1}L * {n2}L) * 1000000"
            f" + (d_num % ({n1}L * {n2}L)) * 1000000 DIV ({n1}L * {n2}L)"
        ).alias("d_micro"),
    )


@query(r"""
            WITH p AS (
                SELECT event_id,
                       CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
                       dayofweek(ts) IN (0, 6) AS is_weekend
                FROM events WHERE event_type = 'purchase'
            ), r AS (
                SELECT *, row_number() OVER (ORDER BY cents, event_id)
                           AS rk
                FROM p
            ), vr AS (
                SELECT cents, MIN(rk) AS lo, MAX(rk) AS hi
                FROM r GROUP BY cents
            ), s AS (
                SELECT is_weekend, COUNT(*) AS n,
                       CAST(SUM(lo + hi) AS BIGINT) AS r2
                FROM r JOIN vr USING (cents) GROUP BY is_weekend
            ), j AS (
                SELECT a.n AS n_weekend, b.n AS n_weekday,
                       a.r2 AS r2_weekend, b.r2 AS r2_weekday,
                       a.r2 - a.n * (a.n + 1) AS u2_weekend,
                       b.r2 - b.n * (b.n + 1) AS u2_weekday
                FROM (SELECT * FROM s WHERE is_weekend) a,
                     (SELECT * FROM s WHERE NOT is_weekend) b
            )
            SELECT CAST(n_weekend AS BIGINT) AS n_weekend,
                   CAST(n_weekday AS BIGINT) AS n_weekday,
                   r2_weekend, r2_weekday,
                   CAST(u2_weekend AS BIGINT) AS u2_weekend,
                   CAST(u2_weekday AS BIGINT) AS u2_weekday,
                   (u2_weekend + u2_weekday
                    = 2 * n_weekend * n_weekday) AS u_identity_ok,
                   CAST(
                       CASE WHEN u2_weekend >= u2_weekday
                            THEN 1 ELSE -1 END
                       * (abs(u2_weekend - u2_weekday)
                              // (2 * n_weekend * n_weekday) * 1000000
                          + (abs(u2_weekend - u2_weekday)
                              % (2 * n_weekend * n_weekday)) * 1000000
                              // (2 * n_weekend * n_weekday))
                   AS BIGINT) AS effect_micro
            FROM j
        """)
def q_mann_whitney_value_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mann–Whitney U test for a purchase-value shift between weekend
    and weekday traffic (Mann & Whitney 1947 — THE nonparametric
    two-sample location test; what an experimentation platform runs
    when value distributions are heavy-tailed and a t-test's mean is
    the wrong summary). Everything rank-based and engine-exact:

    - the combined sample is ranked by (cents, event_id) through
      _dist_rank — the cutpoint-bucket distributed ranker, NO
      single-partition window over corpus-scale rows;
    - tie handling is exact integer MIDRANKS, doubled to stay in
      BIGINT: for a tie group occupying ranks [lo, hi], each member's
      doubled midrank is lo + hi (== 2·(lo+hi)/2), computed from the
      per-value min/max of the strict total-order ranks — no /2, no
      float;
    - 2·U₁ = 2·R₁ − n₁(n₁+1) in BIGINT; the identity
      2U₁ + 2U₂ == 2·n₁·n₂ is emitted as a checked column;
    - the rank-biserial effect size r = (U₁−U₂)/(n₁n₂) is reported in
      exact integer micro units via the split-division identity.

    Output: one row — group sizes, doubled U statistics, the doubled
    rank sums they derive from, and effect_micro. DuckDB replays the
    identical construction with its own rank() min/max per value."""
    ev = _t(spark, sf_dir, "events")
    base = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        _cents("value").alias("cents"),
        (
            F.dayofweek(F.col("ts").cast("timestamp")).isin(1, 7)
        ).alias("is_weekend"),
    )
    cuts = base.stat.approxQuantile(
        "cents", [i / 8 for i in range(1, 8)], 0.001
    )
    # the ranked table feeds BOTH sides of the midrank self-join
    # below; materializing it once stops the scan + bucket window from
    # running twice inside one plan (guide §1.2) — and makes the
    # approxQuantile/offset-fetch prefix pay out over every reuse.
    ranked = _dist_rank(
        base, "cents", "event_id", "__rk", [float(c) for c in cuts]
    ).localCheckpoint(eager=False)
    vr = ranked.groupBy("cents").agg(
        F.min("__rk").alias("__lo"), F.max("__rk").alias("__hi")
    )
    # doubled midrank = lo + hi per value; AQE sizes the value-domain
    # join (bounded by the price grid, not the corpus)
    sums = (
        ranked.join(vr, "cents")
        .groupBy("is_weekend")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("__lo") + F.col("__hi")).alias("r2"),
        )
    )
    a = sums.filter(F.col("is_weekend")).select(
        F.col("n").alias("n_weekend"), F.col("r2").alias("r2_weekend")
    )
    b = sums.filter(~F.col("is_weekend")).select(
        F.col("n").alias("n_weekday"), F.col("r2").alias("r2_weekday")
    )
    j = a.crossJoin(b).select(
        "n_weekend",
        "n_weekday",
        "r2_weekend",
        "r2_weekday",
        (
            F.col("r2_weekend") - F.col("n_weekend") * (F.col("n_weekend") + 1)
        ).alias("u2_weekend"),
        (
            F.col("r2_weekday") - F.col("n_weekday") * (F.col("n_weekday") + 1)
        ).alias("u2_weekday"),
    )
    du = F.col("u2_weekend") - F.col("u2_weekday")
    nn2 = 2 * F.col("n_weekend") * F.col("n_weekday")
    return j.select(
        "n_weekend",
        "n_weekday",
        "r2_weekend",
        "r2_weekday",
        "u2_weekend",
        "u2_weekday",
        (F.col("u2_weekend") + F.col("u2_weekday") == nn2).alias(
            "u_identity_ok"
        ),
        # sign·floor(|du|·1e6 / nn2): Spark DIV truncates toward zero
        # and DuckDB // floors — they disagree on negatives, so the
        # division runs on |du| (where truncate == floor) and the sign
        # re-applies after, identically in both engines
        F.expr(
            "CASE WHEN u2_weekend >= u2_weekday THEN 1 ELSE -1 END"
            " * (abs(u2_weekend - u2_weekday)"
            "      DIV (2 * n_weekend * n_weekday) * 1000000"
            "    + (abs(u2_weekend - u2_weekday)"
            "         % (2 * n_weekend * n_weekday)) * 1000000"
            "      DIV (2 * n_weekend * n_weekday))"
        ).alias("effect_micro"),
    )


@query("""
            WITH per_d AS (
                SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d,
                       COUNT(*) AS x
                FROM events GROUP BY 1
            ),
            span AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM per_d),
            grid AS (
                SELECT UNNEST(generate_series(0, hi - lo)) AS t, lo
                FROM span
            ),
            filled AS (
                SELECT g.t, COALESCE(p.x, 0) AS x
                FROM grid g LEFT JOIN per_d p ON p.d = g.t + g.lo
            ),
            sl AS (
                SELECT (b.x - a.x) * 1000000 // (b.t - a.t) AS sm
                FROM filled a JOIN filled b ON b.t > a.t
            ),
            n AS (SELECT COUNT(*) AS np FROM sl),
            per_s AS (SELECT sm, COUNT(*) AS c FROM sl GROUP BY sm),
            cum AS (
                SELECT sm, SUM(c) OVER (ORDER BY sm) AS cum_c FROM per_s
            ),
            lo_v AS (
                SELECT MIN(sm) AS mlo FROM cum, n
                WHERE cum_c >= (np + 1) // 2
            ),
            hi_v AS (
                SELECT MIN(sm) AS mhi FROM cum, n
                WHERE cum_c >= np // 2 + 1
            )
            SELECT CAST(hi - lo + 1 AS BIGINT) AS n_days,
                   CAST(np AS BIGINT) AS n_pairs,
                   CAST(mlo + mhi AS BIGINT) AS median_slope_x2_micro
            FROM span, n, lo_v, hi_v
        """)
def q_theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of the daily event-count series (Theil
    1950 / Sen 1968): the median over all pairwise slopes — the trend
    estimator that shrugs off the outlier days a least-squares line
    chases (29% breakdown point), i.e. the robust companion to
    regression_stats_by_type and the trend-side sibling of
    cusum_drift_profile. Scale shape: everything past the one
    events-scan aggregate lives on the DAY-GRAIN calendar grid
    (hypertable/burst contract — rows = days), so the pairwise stage
    is calendar²-bounded (10 years → ~6.6M integer pairs), never
    corpus-sized. Engine-exact: slopes quantize to integer micro-units
    as (Δcount·10⁶) div Δdays BEFORE the median (both engines truncate
    integer division toward zero — verified), and the median over the
    quantized multiset rides the distinct-value + _dist_cumsum
    machinery (the KS construction): doubled median = value at prefix
    rank ⌈n/2⌉ plus value at ⌊n/2⌋+1, so even counts never divide.
    n_pairs = m(m−1)/2 is derived from the grid size, not a second
    action. Output: one row (n_days, n_pairs, median_slope_x2_micro)."""
    ev = _t(spark, sf_dir, "events")
    per_d = ev.select(
        F.floor(_epoch_sec("ts") / 86400).cast("long").alias("d")
    ).groupBy("d").agg(F.count(F.lit(1)).alias("x"))
    span = per_d.agg(F.min("d").alias("lo"), F.max("d").alias("hi")).collect()[0]
    lo, hi = int(span["lo"]), int(span["hi"])
    m = hi - lo + 1
    n_pairs = m * (m - 1) // 2
    grid = spark.range(0, m).select(F.col("id").alias("t"))
    filled = (
        grid.join(
            per_d.select((F.col("d") - F.lit(lo)).alias("t"), "x"), "t", "left"
        )
        .select("t", F.coalesce("x", F.lit(0)).alias("x"))
        .localCheckpoint(eager=False)
    )
    a = filled.select(F.col("t").alias("ta"), F.col("x").alias("xa"))
    b = filled.select(F.col("t").alias("tb"), F.col("x").alias("xb"))
    slopes = (
        a.join(b, F.col("tb") > F.col("ta"))
        .select(F.expr("(xb - xa) * 1000000 div (tb - ta)").alias("sm"))
    )
    # materialize the distinct-slope census ONCE: approxQuantile, the
    # _dist_cumsum bucket-offset fetch, and the final median read are
    # three separate actions, and without this each re-ran the full
    # calendar² pairwise join + aggregate (guide §1.2: don't compute
    # the expensive pass three times). The census is bounded by the
    # distinct quantized-slope count, never corpus-sized.
    per_s = (
        slopes.groupBy("sm")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    cuts = per_s.stat.approxQuantile("sm", [i / 8 for i in range(1, 8)], 0.001)
    cum = _dist_cumsum(per_s, "sm", "sm", ["c"], [float(x) for x in cuts])
    lower = (n_pairs + 1) // 2
    upper = n_pairs // 2 + 1
    lo_v = cum.filter(F.col("cum_c") >= lower).agg(
        F.min("sm").alias("mlo")
    )
    hi_v = cum.filter(F.col("cum_c") >= upper).agg(
        F.min("sm").alias("mhi")
    )
    return (
        lo_v.crossJoin(hi_v)
        .select(
            F.lit(m).cast("long").alias("n_days"),
            F.lit(n_pairs).cast("long").alias("n_pairs"),
            (F.col("mlo") + F.col("mhi")).alias("median_slope_x2_micro"),
        )
    )


@query("""
            WITH m AS (
                SELECT CAST(FLOOR(epoch(ts) / 60) AS BIGINT) AS idx,
                       COUNT(*) AS x
                FROM events GROUP BY 1
            ),
            span AS (
                SELECT MIN(idx) AS lo, MAX(idx) AS hi,
                       CAST(SUM(x) AS BIGINT) AS t,
                       MAX(idx) - MIN(idx) + 1 AS n
                FROM m
            ),
            cum AS (
                SELECT idx,
                       CAST(SUM(x) OVER (ORDER BY idx) AS BIGINT) AS s_l,
                       LEAD(idx) OVER (ORDER BY idx) AS nxt
                FROM m
            ),
            cand AS (
                SELECT c.idx AS k, c.s_l FROM cum c, span WHERE c.idx < hi
                UNION
                SELECT COALESCE(c.nxt - 1, s.hi) AS k, c.s_l
                FROM cum c, span s WHERE COALESCE(c.nxt - 1, s.hi) < s.hi
            ),
            f AS (
                SELECT k, s_l, lo, n, t,
                       (CAST(CAST(s_l AS HUGEINT) * s_l
                             * (n - (k - lo + 1)) AS DOUBLE)
                        + CAST(CAST(t - s_l AS HUGEINT) * (t - s_l)
                               * (k - lo + 1) AS DOUBLE))
                       / (CAST(k - lo + 1 AS DOUBLE) * (n - (k - lo + 1)))
                           AS fv
                FROM cand, span
            ),
            best AS (SELECT * FROM f ORDER BY fv DESC, k ASC LIMIT 1)
            SELECT k AS split_minute,
                   CAST(k - lo + 1 AS BIGINT) AS n_left,
                   s_l AS sum_left,
                   CAST(n - (k - lo + 1) AS BIGINT) AS n_right,
                   CAST(t - s_l AS BIGINT) AS sum_right,
                   CAST(FLOOR((fv / (CAST(t AS DOUBLE) * t / n) - 1)
                        * 1000000 + 0.5) AS BIGINT) AS gain_micro
            FROM best
        """)
def q_changepoint_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single best changepoint of the per-minute event-count series —
    the first step of binary segmentation (Scott & Knott 1974; the
    standard changepoint recursion): the calendar-minute split k that
    minimizes total within-segment SSE, equivalently maximizes
    f(k) = S_L²/n_L + S_R²/n_R (S = segment count sums over the
    CALENDAR grid with empty minutes = 0, n = calendar lengths). The
    location complement to cusum_drift_profile (that one scores drift
    magnitude; this names WHERE to cut). Grid-free like acf: S_L only
    changes at observed minutes and f is CONVEX in n_L between them,
    so the maximum over each zero-run lands at its endpoints — the
    candidate set is each observed minute and the minute before the
    next observed one (2·|observed| candidates, never the raw grid).
    Prefix sums ride _dist_cumsum; the successor minute comes from a
    rank self-join (rank+1), not a global lead() window. Exactness:
    the objective is evaluated as ONE identically-ordered IEEE
    expression over exact integer inputs (DECIMAL-accumulated
    products; both engines round the same integers → identical
    doubles — the assortativity contract), and the argmax is a
    max(struct(f, −k)) with ties to the smaller minute. Output: one
    row (split_minute, n_left, sum_left, n_right, sum_right,
    gain_micro) — gain_micro = floor((f_best/f_single − 1)·10⁶)
    against the no-split baseline T²/N."""
    ev = _t(spark, sf_dir, "events")
    m = (
        ev.select(F.floor(_epoch_sec("ts") / 60).cast("long").alias("idx"))
        .groupBy("idx")
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint(eager=False)
    )
    span = m.agg(
        F.min("idx").alias("lo"),
        F.max("idx").alias("hi"),
        F.sum("x").alias("t"),
    ).collect()[0]
    lo, hi, t_total = int(span["lo"]), int(span["hi"]), int(span["t"])
    n_total = hi - lo + 1
    cuts = m.stat.approxQuantile("idx", [i / 8 for i in range(1, 8)], 0.001)
    # one census + one pass: rank rides the cumsum (guide §1.2)
    rk = _dist_cumsum(
        m, "idx", "idx", ["x"], [float(c) for c in cuts], rank_out="r"
    )
    succ = rk.select((F.col("r") - 1).alias("r"), F.col("idx").alias("nxt"))
    cand = (
        rk.join(succ, "r", "left")
        .select(
            "idx",
            "cum_x",
            F.coalesce(F.col("nxt") - 1, F.lit(hi)).alias("run_end"),
        )
        .select(
            F.explode(
                F.array_distinct(F.array("idx", "run_end"))
            ).alias("k"),
            F.col("cum_x").alias("s_l"),
        )
        .filter(F.col("k") < F.lit(hi))  # right segment must be non-empty
    )
    f_expr = (
        "(CAST(CAST(s_l AS DECIMAL(38,0)) * s_l"
        f" * ({n_total}L - (k - {lo}L + 1)) AS DOUBLE)"
        f" + CAST(CAST({t_total}L - s_l AS DECIMAL(38,0))"
        f" * ({t_total}L - s_l) * (k - {lo}L + 1) AS DOUBLE))"
        f" / (CAST(k - {lo}L + 1 AS DOUBLE)"
        f" * ({n_total}L - (k - {lo}L + 1)))"
    )
    best = cand.select(
        F.struct(
            F.expr(f_expr).alias("f"), (-F.col("k")).alias("nk"),
            F.col("s_l").alias("s_l"),
        ).alias("c")
    ).agg(F.max("c").alias("b"))
    base = float(t_total) * t_total / n_total
    return best.select(
        (-F.col("b.nk")).alias("split_minute"),
        (-F.col("b.nk") - F.lit(lo) + 1).alias("n_left"),
        F.col("b.s_l").alias("sum_left"),
        (F.lit(n_total) + F.col("b.nk") + F.lit(lo) - 1).alias("n_right"),
        (F.lit(t_total) - F.col("b.s_l")).alias("sum_right"),
        F.expr(
            f"CAST(FLOOR((b.f / {base!r} - 1) * 1000000 + 0.5) AS BIGINT)"
        ).alias("gain_micro"),
    )


@query("""
            WITH p AS (
                SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS x,
                       CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0
                       END AS we
                FROM events WHERE event_type = 'purchase'
            ),
            agg AS (
                SELECT CAST(SUM(we) AS BIGINT) AS n1,
                       CAST(SUM(1 - we) AS BIGINT) AS n2,
                       CAST(SUM(we * x) AS BIGINT) AS s1,
                       CAST(SUM((1 - we) * x) AS BIGINT) AS s2,
                       SUM(we * CAST(x AS HUGEINT) * x) AS q1,
                       SUM((1 - we) * CAST(x AS HUGEINT) * x) AS q2
                FROM p
            ),
            d AS (
                SELECT n1, n2, s1, s2,
                       CAST(n1 * q1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                           AS ssq1,
                       CAST(n2 * q2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
                           AS ssq2
                FROM agg
            ),
            v AS (
                SELECT *,
                       ssq1 / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1)) AS a,
                       ssq2 / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1)) AS b
                FROM d
            )
            SELECT n1 AS n_we, n2 AS n_wd, s1 AS sum_we, s2 AS sum_wd,
                   ssq1 AS ssq_we, ssq2 AS ssq_wd,
                   CAST(FLOOR((CAST(s1 AS DOUBLE) / n1
                               - CAST(s2 AS DOUBLE) / n2)
                        / SQRT(a + b) * 1000 + 0.5) AS BIGINT) AS t_milli,
                   CAST(FLOOR((a + b) * (a + b)
                        / (a * a / (n1 - 1) + b * b / (n2 - 1))
                        * 1000 + 0.5) AS BIGINT) AS df_milli
            FROM v
        """)
def q_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic for the weekend-vs-weekday
    purchase-value shift (Welch, Biometrika 1947) — the PARAMETRIC
    member of the engine's two-sample battery (Mann–Whitney tests
    ranks, KS tests the whole distribution; Welch tests means without
    the equal-variance lie Student's t tells) plus the
    Welch–Satterthwaite effective degrees of freedom. Engine-exact
    construction: per-group n, Σx, Σx² in cents accumulate exactly
    (Σx² in DECIMAL(38,0) — cents² at web scale passes 2⁶³; HUGEINT
    twin); the n-scaled corrected sums of squares
    ssq_g = n_g·Σx² − (Σx)² are emitted as correctly-rounded DOUBLEs
    of the exact integers (the assortativity/ACF contract), and
    t_milli / df_milli are single IEEE expressions over those exact
    inputs, floor-quantized at 10³ (t = Δmean/√(v₁/n₁+v₂/n₂) with
    v_g = ssq_g/(n_g²(n_g−1)) — algebra arranged so every division
    input is one of the exact sums). Shape: ONE map-side-combining
    aggregate over purchases — no joins, no windows; trivially
    100 TB-safe. Output: one row (n_we, n_wd, sum_we, sum_wd, ssq_we,
    ssq_wd, t_milli, df_milli)."""
    ev = _t(spark, sf_dir, "events")
    base = ev.filter(F.col("event_type") == "purchase").select(
        _cents("value").alias("x"),
        F.dayofweek(F.col("ts").cast("timestamp"))
        .isin(1, 7)
        .cast("long")
        .alias("we"),
    )
    agg = base.agg(
        F.sum("we").alias("n1"),
        F.sum(1 - F.col("we")).alias("n2"),
        F.sum(F.col("we") * F.col("x")).alias("s1"),
        F.sum((1 - F.col("we")) * F.col("x")).alias("s2"),
        F.sum(
            F.col("we") * F.col("x").cast("decimal(38,0)") * F.col("x")
        ).alias("q1"),
        F.sum(
            (1 - F.col("we"))
            * F.col("x").cast("decimal(38,0)")
            * F.col("x")
        ).alias("q2"),
    )
    # vg/ng = ssq_g / (n_g^2 (n_g - 1)); one IEEE expression per output
    v_over_n = (
        "(CAST(CAST(n{g} AS DECIMAL(38,0)) * q{g}"
        " - CAST(s{g} AS DECIMAL(38,0)) * s{g} AS DOUBLE)"
        " / (CAST(n{g} AS DOUBLE) * n{g} * (n{g} - 1)))"
    )
    a = v_over_n.format(g=1)
    b = v_over_n.format(g=2)
    return agg.select(
        F.col("n1").alias("n_we"),
        F.col("n2").alias("n_wd"),
        F.col("s1").alias("sum_we"),
        F.col("s2").alias("sum_wd"),
        F.expr(
            "CAST(CAST(n1 AS DECIMAL(38,0)) * q1"
            " - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)"
        ).alias("ssq_we"),
        F.expr(
            "CAST(CAST(n2 AS DECIMAL(38,0)) * q2"
            " - CAST(s2 AS DECIMAL(38,0)) * s2 AS DOUBLE)"
        ).alias("ssq_wd"),
        F.expr(
            f"CAST(FLOOR((CAST(s1 AS DOUBLE) / n1"
            f" - CAST(s2 AS DOUBLE) / n2)"
            f" / SQRT({a} + {b}) * 1000 + 0.5) AS BIGINT)"
        ).alias("t_milli"),
        F.expr(
            f"CAST(FLOOR(({a} + {b}) * ({a} + {b})"
            f" / ({a} * {a} / (n1 - 1) + {b} * {b} / (n2 - 1))"
            f" * 1000 + 0.5) AS BIGINT)"
        ).alias("df_milli"),
    )


#: Benjamini–Hochberg critical values, inlined data-independently (the
#: LSH-planes pattern): _BH_THR[(m, i)] = Φ⁻¹(1 − α·i/(2m)) in integer
#: micro-units for α = 0.05, every family size m ≤ _BH_MAX_M and rank
#: i ≤ m. Both engines look the value up AFTER computing m in-query,
#: so the oracle SQL stays a static string. CPython's NormalDist
#: inv_cdf is the fixed AS241/Acklam rational approximation — the same
#: literal on any platform.
_BH_MAX_M = 64

_BH_ALPHA = 0.05


def _bh_thresholds() -> list[tuple[int, int, int]]:
    from statistics import NormalDist

    nd = NormalDist()
    return [
        (
            m,
            i,
            int(
                math.floor(
                    nd.inv_cdf(1.0 - _BH_ALPHA * i / (2.0 * m)) * 1e6 + 0.5
                )
            ),
        )
        for m in range(1, _BH_MAX_M + 1)
        for i in range(1, m + 1)
    ]


@query(f"""
            WITH thr(m, rnk, thr_micro) AS (VALUES {", ".join(
                f"({m}, {i}, {t})" for m, i, t in _bh_thresholds()
            )}),
            span AS (
                -- TRUE floor division, negative-safe: DuckDB's bare
                -- `//` truncates toward zero (CAST(x/2) even rounds);
                -- subtracting the positive residue first makes the sum
                -- even, so `// 2` is exact floor for either sign —
                -- matching Spark's pmod-then-DIV and pandas `//`
                SELECT (s - ((s % 2) + 2) % 2) // 2 AS mid FROM (
                    SELECT CAST(FLOOR(MIN(epoch(ts))) AS BIGINT)
                         + CAST(FLOOR(MAX(epoch(ts))) AS BIGINT) AS s
                    FROM events
                )
            ),
            p AS (
                SELECT event_type,
                       CAST(ROUND(value * 100, 0) AS BIGINT) AS x,
                       CASE WHEN epoch(ts) <= (SELECT mid FROM span)
                            THEN 1 ELSE 0 END AS e
                FROM events WHERE value IS NOT NULL
            ),
            agg AS (
                SELECT event_type,
                       CAST(SUM(e) AS BIGINT) AS n1,
                       CAST(SUM(1 - e) AS BIGINT) AS n2,
                       CAST(SUM(e * x) AS BIGINT) AS s1,
                       CAST(SUM((1 - e) * x) AS BIGINT) AS s2,
                       SUM(e * CAST(x AS HUGEINT) * x) AS q1,
                       SUM((1 - e) * CAST(x AS HUGEINT) * x) AS q2
                FROM p GROUP BY event_type
                HAVING SUM(e) >= 2 AND SUM(1 - e) >= 2
            ),
            v AS (
                SELECT event_type, n1, n2, s1, s2,
                       CAST(n1 * q1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                           / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1)) AS a,
                       CAST(n2 * q2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
                           / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1)) AS b
                FROM agg
            ),
            z AS (
                SELECT event_type, n1 AS n_early, n2 AS n_late,
                       CAST(FLOOR((CAST(s1 AS DOUBLE) / n1
                                   - CAST(s2 AS DOUBLE) / n2)
                            / SQRT(a + b) * 1000 + 0.5) AS BIGINT)
                           AS z_milli
                FROM v
            ),
            ranked AS (
                -- loud guard, mirroring the Spark raise_error: past
                -- m={_BH_MAX_M} the thr join would silently empty BOTH
                -- engines
                SELECT *, ROW_NUMBER() OVER (
                           ORDER BY ABS(z_milli) DESC, event_type ASC
                       ) AS rnk,
                       (SELECT CASE WHEN COUNT(*) <= {_BH_MAX_M}
                               THEN COUNT(*)
                               ELSE CAST(error('bh_fdr family size '
                                   || COUNT(*)
                                   || ' exceeds {_BH_MAX_M}')
                                   AS BIGINT) END
                        FROM z) AS m
                FROM z
            ),
            j AS (
                SELECT r.*, CAST(t.thr_micro AS BIGINT) AS thr_micro,
                       (ABS(r.z_milli) * 1000 >= t.thr_micro) AS passed
                FROM ranked r JOIN thr t ON t.m = r.m AND t.rnk = r.rnk
            ),
            k AS (
                SELECT COALESCE(MAX(CASE WHEN passed THEN rnk END), 0)
                       AS k_star
                FROM j
            )
            SELECT event_type, n_early, n_late, z_milli, rnk, thr_micro,
                   (rnk <= (SELECT k_star FROM k)) AS rejected
            FROM j ORDER BY rnk
        """)
def q_bh_fdr_event_shifts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control (JRSS-B 1995) over the per-type
    drift battery — the MULTIPLE-TESTING step every real monitoring
    pipeline needs once it runs a two-sample test per event type
    (welch/mann-whitney/ks test ONE hypothesis; five types tested at
    α=0.05 each false-alarm at ~23%): each event type gets the Welch
    z for early-half vs late-half value shift (corpus midpoint by
    epoch second — the drift axis, vs welch_t_test's weekend axis),
    then BH rejects the largest prefix of the |z|-descending ranking
    with |z|_(i) ≥ Φ⁻¹(1 − α·i/(2m)) — the normal-quantile form of
    p_(i) ≤ i·α/m, exact because p is monotone in |z| (large-n normal
    approximation, the df>1000 regime every type is in at every sf).
    Engine-exact: z_milli reuses the welch_t_test construction
    (exact n/Σx/Σx² per half, DECIMAL(38,0) squares, one IEEE
    expression floor-quantized); the critical values are
    DATA-INDEPENDENT literals for every family size m ≤ 64 (α=0.05;
    64 ≫ any plausible event-type count — r10 advice: the slate must
    never silently bound the family, and past it both engines RAISE),
    looked up after m is computed in-query, so rejection is an
    integer comparison both engines replay bit-for-bit. Everything is
    one declarative plan: corpus midpoint and m are broadcast scalar
    aggregates, never driver fetches. The rank window runs over the
    ≤|event types| stats rows (the rrf bounded-shortlist exemption).
    Shape at 100 TB: ONE map-side-combining aggregate over events
    feeds everything; all downstream tables are |types|-sized.
    Output: (event_type, n_early, n_late, z_milli, rnk, thr_micro,
    rejected), rank-ordered."""
    ev = _t(spark, sf_dir, "events")
    span = ev.agg(
        F.floor(F.min(_epoch_sec("ts"))).cast("long").alias("lo"),
        F.floor(F.max(_epoch_sec("ts"))).cast("long").alias("hi"),
    ).select(
        # TRUE integer FLOOR division, negative-safe: DuckDB's `//` and
        # the pandas third-impl's `//` both FLOOR, while Spark's DIV
        # truncates toward zero — subtracting pmod first makes the sum
        # even so DIV is exact floor for either sign. (The r10 first
        # cut used bare DIV, which still diverged for odd NEGATIVE
        # epoch sums — pre-1970 data.)
        F.expr("(lo + hi - pmod(lo + hi, 2)) DIV 2").alias("mid")
    )
    base = (
        ev.filter(F.col("value").isNotNull())
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            _cents("value").alias("x"),
            (_epoch_sec("ts") <= F.col("mid")).cast("long").alias("e"),
        )
    )
    agg = base.groupBy("event_type").agg(
        F.sum("e").alias("n1"),
        F.sum(1 - F.col("e")).alias("n2"),
        F.sum(F.col("e") * F.col("x")).alias("s1"),
        F.sum((1 - F.col("e")) * F.col("x")).alias("s2"),
        F.sum(
            F.col("e") * F.col("x").cast("decimal(38,0)") * F.col("x")
        ).alias("q1"),
        F.sum(
            (1 - F.col("e"))
            * F.col("x").cast("decimal(38,0)")
            * F.col("x")
        ).alias("q2"),
    ).filter((F.col("n1") >= 2) & (F.col("n2") >= 2))
    v_over_n = (
        "(CAST(CAST(n{g} AS DECIMAL(38,0)) * q{g}"
        " - CAST(s{g} AS DECIMAL(38,0)) * s{g} AS DOUBLE)"
        " / (CAST(n{g} AS DOUBLE) * n{g} * (n{g} - 1)))"
    )
    a, b = v_over_n.format(g=1), v_over_n.format(g=2)
    stats = agg.select(
        "event_type",
        F.col("n1").alias("n_early"),
        F.col("n2").alias("n_late"),
        F.expr(
            f"CAST(FLOOR((CAST(s1 AS DOUBLE) / n1"
            f" - CAST(s2 AS DOUBLE) / n2)"
            f" / SQRT({a} + {b}) * 1000 + 0.5) AS BIGINT)"
        ).alias("z_milli"),
    )
    from pyspark.sql import Window as W

    rnk = (
        F.row_number()
        .over(
            W.orderBy(
                F.abs(F.col("z_milli")).desc(), F.col("event_type").asc()
            )
        )
        .cast("long")
    )
    # The ranked stats table (≤|event types| rows) feeds FOUR consumers
    # (the m scalar, the thr join, the k* cutoff, the final select):
    # without a cut Catalyst re-evaluates the whole events-scan subtree
    # per consumer (PLANS.md r9 recorded 3 parquet scans and 50 repeated
    # bounded-window warnings). localCheckpoint pins the tiny table once
    # — the r7 sentinel-guard recipe — so events is scanned exactly once
    # and the bounded global rank window (≤ m rows, the rrf shortlist
    # exemption) compiles and executes exactly once.
    ranked = stats.withColumn("rnk", rnk).localCheckpoint(eager=False)
    # Fail LOUDLY past the precomputed threshold slate: with m >
    # _BH_MAX_M the inner (m, rnk) join would return ZERO rows in BOTH
    # engines (the DuckDB twin holds the identical VALUES list), so the
    # differential gate would stay green while the output vanished.
    m_tbl = ranked.agg(F.count(F.lit(1)).alias("m")).select(
        F.when(F.col("m") <= _BH_MAX_M, F.col("m"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("bh_fdr family size "),
                    F.col("m").cast("string"),
                    F.lit(
                        f" exceeds _BH_MAX_M={_BH_MAX_M};"
                        " extend _bh_thresholds"
                    ),
                )
            ).cast("long")
        )
        .alias("m")
    )
    thr = spark.createDataFrame(
        _bh_thresholds(), "m long, rnk long, thr_micro long"
    )
    joined = (
        ranked.crossJoin(F.broadcast(m_tbl))
        .join(F.broadcast(thr), ["m", "rnk"])
        .withColumn(
            "passed",
            F.abs(F.col("z_milli")) * 1000 >= F.col("thr_micro"),
        )
    )
    cutoff = joined.agg(
        F.coalesce(
            F.max(F.when(F.col("passed"), F.col("rnk"))), F.lit(0)
        ).alias("k_star")
    )
    return (
        joined.crossJoin(F.broadcast(cutoff))
        .select(
            "event_type",
            "n_early",
            "n_late",
            "z_milli",
            "rnk",
            "thr_micro",
            (F.col("rnk") <= F.col("k_star")).alias("rejected"),
        )
        .orderBy("rnk")
    )


@query("""
            WITH span AS (
                -- negative-safe FLOOR division, same contract as
                -- bh_fdr's midpoint
                SELECT (s - ((s % 2) + 2) % 2) // 2 AS mid FROM (
                    SELECT CAST(FLOOR(MIN(epoch(ts))) AS BIGINT)
                         + CAST(FLOOR(MAX(epoch(ts))) AS BIGINT) AS s
                    FROM events
                )
            ),
            vals AS (
                SELECT event_type, event_id,
                       CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
                       CASE WHEN epoch(ts) <= (SELECT mid FROM span)
                            THEN 1 ELSE 0 END AS e
                FROM events WHERE value IS NOT NULL
            ),
            ranked AS (
                SELECT event_type, v,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                                          ORDER BY v, event_id) AS r,
                       COUNT(*) OVER (PARTITION BY event_type) AS n
                FROM vals WHERE e = 1
            ),
            edges AS (
                SELECT rk.event_type, q.q, rk.v AS edge
                FROM ranked rk JOIN range(1, 10) q(q)
                  ON rk.r = (q.q * rk.n + 9) // 10
            ),
            binned AS (
                SELECT vl.event_type, vl.event_id, vl.e,
                       SUM(CASE WHEN vl.v > ed.edge THEN 1 ELSE 0 END)
                           AS bin
                FROM vals vl JOIN edges ed USING (event_type)
                GROUP BY vl.event_type, vl.event_id, vl.e
            ),
            counts AS (
                SELECT event_type, bin,
                       SUM(e) AS ce, SUM(1 - e) AS cl
                FROM binned GROUP BY event_type, bin
            ),
            grid AS (
                SELECT t.event_type, b.bin
                FROM (SELECT DISTINCT event_type FROM edges) t
                CROSS JOIN range(0, 10) b(bin)
            ),
            filled AS (
                SELECT g.event_type, g.bin,
                       COALESCE(c.ce, 0) AS ce, COALESCE(c.cl, 0) AS cl
                FROM grid g LEFT JOIN counts c
                  ON c.event_type = g.event_type AND c.bin = g.bin
            ),
            tot AS (
                SELECT event_type, SUM(ce) AS ne, SUM(cl) AS nl
                FROM filled GROUP BY event_type
            )
            SELECT f.event_type,
                   CAST(MAX(t.ne) AS BIGINT) AS n_early,
                   CAST(MAX(t.nl) AS BIGINT) AS n_late,
                   CAST(SUM(CAST(FLOOR((
                        CAST(2 * f.ce + 1 AS DOUBLE) / (2 * t.ne + 10)
                        - CAST(2 * f.cl + 1 AS DOUBLE) / (2 * t.nl + 10)
                   ) * LN(
                        (CAST(2 * f.ce + 1 AS DOUBLE) / (2 * t.ne + 10))
                        / (CAST(2 * f.cl + 1 AS DOUBLE) / (2 * t.nl + 10))
                   ) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS psi_micro
            FROM filled f JOIN tot t ON t.event_type = f.event_type
            GROUP BY f.event_type
            ORDER BY f.event_type
        """)
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type — THE binned drift
    metric ML monitoring actually deploys (credit-scoring lineage;
    PSI < 0.1 stable, 0.1-0.25 watch, > 0.25 act): decile bins fitted
    on the EARLY half of the corpus (by epoch midpoint, the
    bh_fdr/drift axis), then PSI = Σ_bins (p_e − p_l)·ln(p_e/p_l)
    between the early and late value distributions. Completes the
    drift battery's binned corner (KS tests the max CDF gap, Welch the
    means, BH the family — PSI is the per-bin decomposition ops teams
    alarm on). Engine-exact construction: bin edges are DISCRETE
    early-half decile values at total-ordered integer ranks
    ceil(q·N/10) = (q·N+9) DIV 10 over (cents, event_id) — the
    winsorized_stats machinery, no interpolation floats; bin
    assignment is Σ(x > edge) over the 9-edge broadcast array (exact
    integer comparisons, ties deterministic); counts are exact; the
    per-bin term uses add-half smoothing p = (2c+1)/(2N+10) (zero
    bins stay finite and both engines agree on the rational) and
    floor-quantizes to integer micro-nats BEFORE the per-type sum, so
    float summation order cannot flip a hash. Every bin 0..9
    materializes via a types×10 grid even when empty — a missing bin
    with n_e ≠ n_l has a NONZERO smoothed term both engines must
    include. Types with an empty early half drop (no fitted bins).
    Shape: one type-partitioned rank window over the early half, a
    9-edge-per-type broadcast, one (type, bin) aggregate —
    events-scan-bounded, windows never global. Output: (event_type,
    n_early, n_late, psi_micro), type-ordered."""
    ev = _t(spark, sf_dir, "events")
    span = ev.agg(
        F.floor(F.min(_epoch_sec("ts"))).cast("long").alias("lo"),
        F.floor(F.max(_epoch_sec("ts"))).cast("long").alias("hi"),
    ).select(
        # negative-safe FLOOR division, same contract as bh_fdr's
        # midpoint above
        F.expr("(lo + hi - pmod(lo + hi, 2)) DIV 2").alias("mid")
    )
    vals = (
        ev.filter(F.col("value").isNotNull())
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            "event_id",
            _cents("value").alias("v"),
            (_epoch_sec("ts") <= F.col("mid")).cast("long").alias("e"),
        )
    )
    # ONE events aggregate feeds everything downstream (r10, the bh_fdr
    # de-triplication discipline): per-(type, value) half counts — the
    # distinct price grid, not the event stream. The decile edge at
    # integer rank r over (v, event_id) order is the smallest v whose
    # early cumulative count reaches r (event_id only tie-breaks WITHIN
    # equal v, so it can never change which VALUE sits at rank r); the
    # rank window therefore runs over the bounded value grid instead of
    # raw rows, and bin counts are value-count sums — the raw table is
    # never re-read (was 3 events scans: span + rank window + binning).
    # localCheckpoint: vcounts feeds BOTH the edge ranking and the bin
    # counting — without the cut each consumer re-runs the events scan.
    # The table is bounded by |distinct cents values| × |types| (the
    # winsorized/KS price-grid contract), never corpus-sized.
    vcounts = (
        vals.groupBy("event_type", "v")
        .agg(
            F.sum("e").alias("vce"),
            F.sum(1 - F.col("e")).alias("vcl"),
        )
        .localCheckpoint(eager=False)
    )
    wv = (
        Window.partitionBy("event_type")
        .orderBy(F.asc("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ec = vcounts.withColumn("cum_e", F.sum("vce").over(wv)).withColumn(
        "n_e", F.sum("vce").over(Window.partitionBy("event_type"))
    )
    qgrid = spark.range(1, 10).select(F.col("id").alias("q"))
    edges = (
        ec.filter(F.col("n_e") > 0)
        .join(
            F.broadcast(qgrid),
            F.expr(
                "(q * n_e + 9) DIV 10 BETWEEN cum_e - vce + 1 AND cum_e"
            ),
        )
        .groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("q", "v"))),
                lambda s: s["v"],
            ).alias("edges")
        )
    )
    counts = (
        vcounts.join(F.broadcast(edges), "event_type")
        .select(
            "event_type",
            "vce",
            "vcl",
            F.aggregate(
                "edges",
                F.lit(0),
                lambda acc, el: acc + (F.col("v") > el).cast("int"),
            ).alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.sum("vce").alias("ce"),
            F.sum("vcl").alias("cl"),
        )
    )
    grid = edges.select("event_type").crossJoin(
        spark.range(0, 10).select(F.col("id").cast("int").alias("bin"))
    )
    full = grid.join(counts, ["event_type", "bin"], "left").select(
        "event_type",
        "bin",
        F.coalesce("ce", F.lit(0)).alias("ce"),
        F.coalesce("cl", F.lit(0)).alias("cl"),
    )
    tot = full.groupBy("event_type").agg(
        F.sum("ce").alias("ne"), F.sum("cl").alias("nl")
    )
    term = F.expr(
        "CAST(FLOOR(("
        " CAST(2 * ce + 1 AS DOUBLE) / (2 * ne + 10)"
        " - CAST(2 * cl + 1 AS DOUBLE) / (2 * nl + 10)"
        ") * LN("
        " (CAST(2 * ce + 1 AS DOUBLE) / (2 * ne + 10))"
        " / (CAST(2 * cl + 1 AS DOUBLE) / (2 * nl + 10))"
        ") * 1000000 + 0.5) AS BIGINT)"
    )
    return (
        full.join(F.broadcast(tot), "event_type")
        .select("event_type", "ne", "nl", term.alias("t"))
        .groupBy("event_type")
        .agg(
            F.max("ne").alias("n_early"),
            F.max("nl").alias("n_late"),
            F.sum("t").alias("psi_micro"),
        )
        .orderBy("event_type")
    )


@query("""
            WITH o AS (
                SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS pv,
                       CAST(epoch(o_orderdate) AS BIGINT) AS dv
                FROM orders
            ),
            rx AS (
                SELECT pv,
                       2 * SUM(c) OVER (ORDER BY pv) - c + 1 AS r2_pv
                FROM (SELECT pv, COUNT(*) AS c FROM o GROUP BY pv)
            ),
            ry AS (
                SELECT dv,
                       2 * SUM(c) OVER (ORDER BY dv) - c + 1 AS r2_dv
                FROM (SELECT dv, COUNT(*) AS c FROM o GROUP BY dv)
            ),
            j AS (
                SELECT rx.r2_pv AS x, ry.r2_dv AS y
                FROM o JOIN rx USING (pv) JOIN ry USING (dv)
            ),
            agg AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       CAST(SUM(x) AS HUGEINT) AS sx,
                       CAST(SUM(y) AS HUGEINT) AS sy,
                       SUM(CAST(x AS HUGEINT) * x) AS sxx,
                       SUM(CAST(y AS HUGEINT) * y) AS syy,
                       SUM(CAST(x AS HUGEINT) * y) AS sxy
                FROM j
            )
            SELECT CAST(n AS BIGINT) AS n,
                   CAST(sx AS BIGINT) AS sum_rank2,
                   CAST(n * sxy - sx * sy AS DOUBLE) AS num,
                   CAST(n * sxx - sx * sx AS DOUBLE) AS denx,
                   CAST(n * syy - sy * sy AS DOUBLE) AS deny,
                   CASE WHEN n * sxx = sx * sx OR n * syy = sy * sy
                        THEN CAST(0 AS BIGINT)
                        ELSE CAST(FLOOR(
                            CAST(n * sxy - sx * sy AS DOUBLE)
                          / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                               * CAST(n * syy - sy * sy AS DOUBLE))
                          * 1000000) AS BIGINT)
                   END AS rho_micro
            FROM agg
        """)
def q_spearman_price_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between order value and order date
    (are basket sizes drifting over time?) — the robust, outlier-immune
    correlation a warehouse reaches for before fitting anything, and
    the rank-space sibling of regression_stats_by_type's Pearson.
    Tie-corrected via AVERAGE ranks, kept integer-exact by doubling:
    rank2 = 2·avg_rank = 2·minrank + (ties−1), an integer for every
    tie group. The global ranks NEVER pass through a single-partition
    window: each variable's rank2 comes from its DISTINCT-VALUE table
    (per-value counts; minrank = inclusive prefix count − count + 1),
    whose running totals ride _dist_cumsum (cutpoint-bucket + bounded
    offset carry), then join back value-keyed — no hint, the value
    tables are unbounded and AQE sizes them. Products of rank2 values
    reach ~4n² (past 2⁶³ near ~10⁹ rows), so Σxy/Σxx/Σyy accumulate
    in DECIMAL(38,0) — the DuckDB twin uses HUGEINT — and num/denx/
    deny leave as correctly-rounded DOUBLEs of the same exact integers
    (bit-identical across engines). rho_micro is ONE IEEE expression:
    floor(num/sqrt(denx·deny)·10⁶) (sqrt is IEEE-correctly-rounded on
    both engines). Σx and n are emitted for audit: with rank2 ranks,
    Σ rank2 = n(n+1) exactly — both engines must agree. Output: one
    row (n, sum_rank2, num, denx, deny, rho_micro)."""
    o = _t(spark, sf_dir, "orders").select(
        _cents("o_totalprice").alias("pv"),
        _epoch_sec("o_orderdate").cast("long").alias("dv"),
    )

    def rank2_table(col: str) -> DataFrame:
        # materialize the distinct-value census once per axis: the
        # approxQuantile pass and the _dist_cumsum offset fetch each
        # re-ran the orders scan + groupBy without it (guide §1.2).
        per_v = (
            o.groupBy(col)
            .agg(F.count("*").alias("c"))
            .localCheckpoint(eager=False)
        )
        cuts = per_v.stat.approxQuantile(
            col, [i / 8 for i in range(1, 8)], 0.001
        )
        cum = _dist_cumsum(
            per_v, col, col, ["c"], [float(x) for x in cuts]
        )
        # avg-rank doubled: 2·(cum − c + 1) + (c − 1) = 2·cum − c + 1
        return cum.select(
            col,
            (2 * F.col("cum_c") - F.col("c") + 1).alias(f"r2_{col}"),
        )

    ranked = o.join(rank2_table("pv"), "pv").join(rank2_table("dv"), "dv")
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("r2_pv").alias("sx"),
        F.sum("r2_dv").alias("sy"),
        F.sum(
            F.col("r2_pv").cast("decimal(38,0)") * F.col("r2_pv")
        ).alias("sxx"),
        F.sum(
            F.col("r2_dv").cast("decimal(38,0)") * F.col("r2_dv")
        ).alias("syy"),
        F.sum(
            F.col("r2_pv").cast("decimal(38,0)") * F.col("r2_dv")
        ).alias("sxy"),
    )
    return agg.select(
        "n",
        F.col("sx").alias("sum_rank2"),
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * sxy"
            " - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)"
        ).alias("num"),
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * sxx"
            " - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
        ).alias("denx"),
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * syy"
            " - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)"
        ).alias("deny"),
        F.expr(
            "CASE WHEN CAST(n AS DECIMAL(38,0)) * sxx"
            "        = CAST(sx AS DECIMAL(38,0)) * sx"
            "     OR CAST(n AS DECIMAL(38,0)) * syy"
            "        = CAST(sy AS DECIMAL(38,0)) * sy"
            " THEN CAST(0 AS BIGINT)"
            " ELSE CAST(FLOOR("
            "   CAST(CAST(n AS DECIMAL(38,0)) * sxy"
            "        - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)"
            " / SQRT(CAST(CAST(n AS DECIMAL(38,0)) * sxx"
            "             - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
            "      * CAST(CAST(n AS DECIMAL(38,0)) * syy"
            "             - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE))"
            " * 1000000) AS BIGINT) END"
        ).alias("rho_micro"),
    )


@query("""
            WITH pu AS (
                SELECT user_id,
                       CAST(FLOOR(epoch(MIN(ts)) / 86400) AS BIGINT) AS d0,
                       CAST(FLOOR(epoch(MAX(ts)) / 86400) AS BIGINT) AS d1
                FROM events GROUP BY user_id
            ),
            h AS (SELECT MAX(d1) AS dmax FROM pu),
            lt AS (
                SELECT d1 - d0 AS t,
                       CASE WHEN d1 < dmax - 7 THEN 1 ELSE 0 END
                           AS is_churn
                FROM pu, h
            ),
            per_t AS (
                SELECT t, CAST(SUM(is_churn) AS BIGINT) AS d,
                       CAST(SUM(1 - is_churn) AS BIGINT) AS c
                FROM lt GROUP BY t
            ),
            n AS (SELECT COUNT(*) AS nt FROM lt),
            cum AS (
                SELECT t, d, c,
                       CAST(nt - SUM(d + c) OVER (ORDER BY t) + d + c
                            AS BIGINT) AS n_risk
                FROM per_t, n
            ),
            step AS (
                SELECT t, d, c, n_risk,
                       CASE WHEN d = 0 THEN 0
                            ELSE CAST(FLOOR(ln(
                                CAST(n_risk - d AS DOUBLE) / n_risk)
                                * 1e6 + 0.5) AS BIGINT) END AS l_micro
                FROM cum
            ),
            surv AS (
                SELECT t, n_risk, d, c,
                       SUM(l_micro) OVER (ORDER BY t) AS ll
                FROM step
            )
            SELECT t AS t_days, n_risk, d AS d_churned, c AS c_censored,
                   CAST(FLOOR(exp(ll / 1e6) * 1e6 + 0.5) AS BIGINT)
                       AS s_micro
            FROM surv ORDER BY t_days
        """)
def q_kaplan_meier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival estimate of user lifetime (Kaplan & Meier,
    JASA 1958) — the right-censoring-aware retention curve a growth
    team actually needs (naive churn rates are biased by users who
    simply haven't churned YET). Lifetime = whole days between a
    user's first and last event; a user whose last event is ≥ 8 days
    before the corpus max day is an observed churn (death), anyone
    more recent is CENSORED at their current lifetime. At each
    distinct lifetime t: n_t = users still at risk (lifetime ≥ t),
    d_t = churns at t, and S(t) = Π_{s≤t} (1 − d_s/n_s).
    Determinism: n/d/c are exact integers; each step's ln((n−d)/n)
    quantizes to integer micro-nats BEFORE the cumulative sum (the
    langid/bm25 house pattern — the sum is then exact), and s_micro
    is floor(exp(Σ)/1e-6) — one exp per row of identical inputs.
    Scale shape: one per-user aggregate (events scan), then EVERYTHING
    runs on the DAY-GRAIN lifetime table (bounded by the calendar,
    like hypertable/burst/cusum); both running totals (at-risk suffix
    counts via N − exclusive prefix, and the log-survival prefix) ride
    _dist_cumsum — no single-partition WindowExec. Output per distinct
    lifetime: (t_days, n_risk, d_churned, c_censored, s_micro),
    t-ordered."""
    ev = _t(spark, sf_dir, "events")
    # materialize the per-user lifetime table ONCE (it feeds the
    # horizon scalar and the lifetime census) and the day-grain census
    # ONCE: this chain previously re-ran the events scan + per-user
    # aggregate for SIX separate actions (the n_total count, two
    # approxQuantile passes, two _dist_cumsum offset fetches, the
    # final read) — guide §1.2, compute the corpus-sized pass once.
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.floor(F.min(_epoch_sec("ts")) / 86400).cast("long").alias("d0"),
            F.floor(F.max(_epoch_sec("ts")) / 86400).cast("long").alias("d1"),
        )
        .localCheckpoint(eager=False)
    )
    horizon = per_user.agg(F.max("d1").alias("dmax"))
    lt = per_user.crossJoin(F.broadcast(horizon)).select(
        (F.col("d1") - F.col("d0")).alias("t"),
        (F.col("d1") < F.col("dmax") - 7).cast("long").alias("is_churn"),
    )
    per_t = lt.groupBy("t").agg(
        F.sum("is_churn").alias("d"),
        F.sum(1 - F.col("is_churn")).alias("c"),
    ).localCheckpoint(eager=False)
    # N = Σ_t (d_t + c_t): each user lands in exactly one lifetime row,
    # so the total reads off the bounded census instead of a second
    # corpus-sized count over `lt`.
    n_total = per_t.agg(
        F.sum(F.col("d") + F.col("c")).cast("long").alias("n")
    ).collect()[0]["n"]
    cuts = per_t.stat.approxQuantile("t", [i / 8 for i in range(1, 8)], 0.001)
    cum = _dist_cumsum(
        per_t, "t", "t", ["d", "c"], [float(x) for x in cuts]
    )
    # at-risk = everyone not already dead/censored at smaller t:
    # N − exclusive-prefix(d+c) = N − (inclusive − own)
    base = cum.select(
        "t",
        "d",
        "c",
        (
            F.lit(n_total) - (F.col("cum_d") + F.col("cum_c"))
            + F.col("d") + F.col("c")
        ).alias("n_risk"),
    )
    # per-step log-factor in integer micro-nats; steps with d=0 are 0
    step = base.withColumn(
        "l_micro",
        F.when(F.col("d") == 0, F.lit(0)).otherwise(
            F.floor(
                F.log(
                    (F.col("n_risk") - F.col("d")).cast("double")
                    / F.col("n_risk")
                )
                * 1e6
                + F.lit(0.5)
            ).cast("long")
        ),
    )
    # the survival cumsum buckets on the SAME t multiset the first
    # cumsum did (step is per_t row-for-row), so the first quantile
    # pass's cutpoints are verbatim reusable — the second
    # approxQuantile action re-ran the whole cum→step chain for an
    # identical answer (guide §1.2)
    surv = _dist_cumsum(
        step, "t", "t", ["l_micro"], [float(x) for x in cuts]
    )
    return surv.select(
        F.col("t").alias("t_days"),
        "n_risk",
        F.col("d").alias("d_churned"),
        F.col("c").alias("c_censored"),
        F.floor(F.exp(F.col("cum_l_micro") / 1e6) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("s_micro"),
    ).orderBy("t_days")
