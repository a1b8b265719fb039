"""Statistics queries: distributions, outliers, inequality,
association and privacy reports, with the distributed rank and
cumulative-sum helpers they share."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catalog import query
from catalog._common import (
    _cents,
    _cents_sum,
    _epoch_sec,
    _q,
    _sql_cents_sum,
    _sql_q,
    _t,
)


@query("""
            SELECT event_type,
                   FLOOR(quantile_cont(value, 0.5) * 10000 + 0.5) / 10000.0 AS p50,
                   FLOOR(quantile_cont(value, 0.9) * 10000 + 0.5) / 10000.0 AS p90,
                   MAX(value) AS vmax
            FROM events GROUP BY event_type
        """)
def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (rank-based → engine-
    independent, unlike variance-family aggs whose float accumulation
    order differs). The approx twin is q_approx_sketches."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        _q(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        _q(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.max("value").alias("vmax"),
    )


@query(f"""
            WITH med AS (
                SELECT event_type, quantile_cont(value, 0.5) AS med
                FROM events GROUP BY event_type
            )
            SELECT e.event_type,
                   {_sql_q("MAX(med)", 4)} AS med,
                   {_sql_q("quantile_cont(ABS(e.value - med), 0.5)", 4)}
                       AS mad
            FROM events e JOIN med USING (event_type)
            GROUP BY e.event_type
        """)
def q_value_mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion per group: median absolute deviation via two
    rank-based percentile passes (median, broadcast back, median of
    |x - med|). Rank statistics are engine-independent where
    variance-family float accumulation is not — the reason MAD is the
    oracle-safe robust spread."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    j = ev.join(F.broadcast(med), "event_type")
    return j.groupBy("event_type").agg(
        _q(F.max("med"), 4).alias("med"),
        _q(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)), 4
        ).alias("mad"),
    )


@query(f"""
            WITH quarts AS (
                SELECT event_type,
                       quantile_cont(value, 0.25) AS q1,
                       quantile_cont(value, 0.75) AS q3
                FROM events GROUP BY event_type
            ), fences AS (
                SELECT event_type,
                       {_sql_q("q1 - 1.5 * (q3 - q1)", 4)} AS lo_fence,
                       {_sql_q("q3 + 1.5 * (q3 - q1)", 4)} AS hi_fence
                FROM quarts
            )
            SELECT e.event_type, COUNT(*) AS n,
                   CAST(SUM(CASE WHEN e.value < f.lo_fence
                                   OR e.value > f.hi_fence
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_outliers,
                   MAX(f.lo_fence) AS lo_fence,
                   MAX(f.hi_fence) AS hi_fence
            FROM events e JOIN fences f USING (event_type)
            GROUP BY e.event_type
        """)
def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier screen (the data-quality gate run before
    stats aggregation): per event type, quantized IQR fences from
    rank-based quartiles, then an outlier count against them. Fences
    are floor-quantized BEFORE the comparison so the predicate operates
    on exact decimals in both engines — an unquantized fence one ulp
    apart could flip a row at the boundary."""
    ev = _t(spark, sf_dir, "events")
    quarts = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    fences = quarts.select(
        "event_type",
        _q(F.col("q1") - 1.5 * iqr, 4).alias("lo_fence"),
        _q(F.col("q3") + 1.5 * iqr, 4).alias("hi_fence"),
    )
    j = ev.join(F.broadcast(fences), "event_type")
    is_out = (F.col("value") < F.col("lo_fence")) | (
        F.col("value") > F.col("hi_fence")
    )
    return j.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(is_out.cast("long")).alias("n_outliers"),
        F.max("lo_fence").alias("lo_fence"),
        F.max("hi_fence").alias("hi_fence"),
    )


@query(f"""
            WITH ext AS (
                SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
                FROM events GROUP BY event_type
            )
            SELECT event_id, event_type,
                   {_sql_q("(value - vmin) / (vmax - vmin)", 6)} AS scaled
            FROM events JOIN ext USING (event_type)
        """)
def q_minmax_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped min-max feature scaling (ML-prep staple): value rescaled
    to [0,1] within its event type. Per-group extrema via one aggregate
    broadcast back — two passes over the exact same 2-decimal values in
    both engines, so (v - min)/(max - min) is the identical double."""
    ev = _t(spark, sf_dir, "events")
    ext = ev.groupBy("event_type").agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    j = ev.join(F.broadcast(ext), "event_type")
    scaled = (F.col("value") - F.col("vmin")) / (
        F.col("vmax") - F.col("vmin")
    )
    return j.select(
        "event_id",
        "event_type",
        _q(scaled, 6).alias("scaled"),
    )


@query(f"""
            SELECT CAST(LEAST(FLOOR(value / 50.0), 9) AS BIGINT) AS bucket,
                   COUNT(*) AS n,
                   {_sql_cents_sum("value")} AS total_value
            FROM events
            GROUP BY 1
        """)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width numeric histogram over events.value (width 50, last
    bucket open): bucket assignment is a pure projection, then one
    aggregation — the classic dashboard histogram without a distinct
    pass or a sort."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 50.0), F.lit(9)).cast("long")
    return (
        ev.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            _cents_sum("value").alias("total_value"),
        )
    )


@query("""
            WITH banded AS (
                SELECT c_nationkey, c_mktsegment,
                       CASE WHEN c_acctbal < 0 THEN 'neg'
                            WHEN c_acctbal < 5000 THEN 'low'
                            ELSE 'high' END AS band
                FROM customer
            ),
            cls AS (
                SELECT c_nationkey, c_mktsegment,
                       COUNT(*) AS gsz,
                       COUNT(DISTINCT band) AS ndv_sensitive
                FROM banded GROUP BY 1, 2
            ),
            ls AS (SELECT UNNEST([2, 3]) AS l)
            SELECT l,
                   COUNT(*) AS n_classes,
                   CAST(SUM(CASE WHEN ndv_sensitive < l THEN 1 ELSE 0 END)
                        AS BIGINT) AS classes_below_l,
                   CAST(SUM(CASE WHEN ndv_sensitive < l THEN gsz ELSE 0 END)
                        AS BIGINT) AS rows_exposed
            FROM cls CROSS JOIN ls
            GROUP BY l
            ORDER BY l
        """)
def q_l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The companion privacy audit to k-anonymity: l-DIVERSITY
    (Machanavajjhala et al., ICDE 2006) — a QI class is l-diverse when
    its SENSITIVE attribute takes at least l distinct values, the
    defense k-anonymity lacks against homogeneity attacks (a class of
    k identical balances reveals every member's balance). QI =
    (nation, segment); sensitive = account-balance sign band
    (negative / low / high). Per l in {2, 3}: classes below l and
    their row exposure. Same one-scan shape as the k report."""
    cust = _t(spark, sf_dir, "customer")
    banded = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("band"),
    )
    classes = banded.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("gsz"),
        F.count_distinct("band").alias("ndv_sensitive"),
    )
    ls = spark.createDataFrame([(2,), (3,)], "l long")
    return (
        classes.crossJoin(F.broadcast(ls))
        .groupBy("l")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(F.when(F.col("ndv_sensitive") < F.col("l"), 1).otherwise(0))
            .cast("long")
            .alias("classes_below_l"),
            F.sum(
                F.when(F.col("ndv_sensitive") < F.col("l"), F.col("gsz"))
                .otherwise(0)
            )
            .cast("long")
            .alias("rows_exposed"),
        )
        .orderBy("l")
    )


@query("""
            WITH g AS (
                SELECT c_nationkey, c_mktsegment, COUNT(*) AS gsz
                FROM customer GROUP BY 1, 2
            ),
            ks AS (SELECT UNNEST([2, 5, 10]) AS k)
            SELECT k,
                   COUNT(*) AS n_classes,
                   CAST(SUM(CASE WHEN gsz < k THEN 1 ELSE 0 END) AS BIGINT)
                       AS classes_below_k,
                   CAST(SUM(CASE WHEN gsz < k THEN gsz ELSE 0 END) AS BIGINT)
                       AS rows_below_k,
                   CAST(MIN(gsz) AS BIGINT) AS min_class_size
            FROM g CROSS JOIN ks
            GROUP BY k
            ORDER BY k
        """)
def q_k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit for release/training-data gates: k-anonymity of
    the customer table under the quasi-identifier (nation, market
    segment) — a record is k-anonymous when at least k−1 others share
    its QI tuple (Sweeney 2002). For k ∈ {2, 5, 10}: how many QI
    equivalence classes fall below k, how many ROWS those classes hold
    (the suppression cost of publishing at that k), and the smallest
    class size. One QI group-by feeds all three k's (the
    one-scan-many-constraints shape of operators/quality.py); exact
    integer counts throughout."""
    cust = _t(spark, sf_dir, "customer")
    groups = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("gsz")
    )
    ks = spark.createDataFrame([(2,), (5,), (10,)], "k long")
    return (
        groups.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count("*").alias("n_classes"),
            F.sum(F.when(F.col("gsz") < F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("classes_below_k"),
            F.sum(F.when(F.col("gsz") < F.col("k"), F.col("gsz")).otherwise(0))
            .cast("long")
            .alias("rows_below_k"),
            F.min("gsz").alias("min_class_size"),
        )
        .orderBy("k")
    )


@query("""
            WITH vals AS (
                SELECT event_id, event_type,
                       CAST(ROUND(value * 100, 0) AS BIGINT) AS v
                FROM events WHERE value IS NOT NULL
            ), stats AS (
                SELECT event_type,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(v) AS BIGINT) AS s,
                       CAST(SUM(v * v) AS BIGINT) AS s2
                FROM vals GROUP BY 1
            )
            SELECT v.event_type, st.n, v.event_id,
                   v.v / 100.0 AS value
            FROM vals v JOIN stats st USING (event_type)
            WHERE (st.n::HUGEINT * v.v - st.s)
                  * (st.n::HUGEINT * v.v - st.s)
                  > 9 * (st.n::HUGEINT * st.s2
                         - st.s::HUGEINT * st.s)
            ORDER BY event_type, event_id
        """)
def q_outlier_events_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier flagging with ZERO float boundaries:
    an event is an outlier when |v − μ| > 3σ, evaluated as the exact
    integer inequality n·(n·v − S)² > 9·n·(n·Σv² − S²) over cent
    values (cross-multiply the rational mean and variance instead of
    computing them — the comparison is exact BIGINT arithmetic, so no
    engine can disagree on a boundary event, where a float z-score at
    2.9999999 vs 3.0000001 flips rows between engines). Population
    variance (σ² = E[v²] − E[v]²), the common monitoring convention.
    Output: per event type, group size and the outlier events. Shape:
    one aggregate pass for (n, S, Σv²) broadcast back over the events —
    the classic two-pass outlier scan, both passes map-side-combined.
    The cross-multiplied terms square n·v, which overflows BIGINT once
    groups reach ~10⁶ rows of 10⁷-cent values, so the comparison runs
    in DECIMAL(38,0) (Spark) / HUGEINT (the DuckDB twin) — exact
    through sf1000-class group sizes."""
    ev = _t(spark, sf_dir, "events")
    vals = ev.select(
        "event_id", "event_type", _cents("value").alias("v")
    ).filter(F.col("v").isNotNull())
    stats = vals.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    dev = d(F.col("n")) * d(F.col("v")) - d(F.col("s"))  # n·(v−μ), ×n
    nvar = d(F.col("n")) * d(F.col("s2")) - d(F.col("s")) * d(
        F.col("s")
    )  # n²·σ²
    return (
        vals.join(F.broadcast(stats), "event_type")
        .filter(dev * dev > 9 * nvar)
        .select(
            "event_type",
            "n",
            "event_id",
            (F.col("v") / 100.0).alias("value"),
        )
        .orderBy("event_type", "event_id")
    )


@query(f"""
            WITH vals AS (
                SELECT event_type, event_id,
                       CAST(ROUND(value * 100, 0) AS BIGINT) AS v
                FROM events WHERE value IS NOT NULL
            ),
            ranked AS (
                SELECT event_type, v,
                       ROW_NUMBER() OVER (
                           PARTITION BY event_type
                           ORDER BY v ASC, event_id ASC) AS r,
                       COUNT(*) OVER (PARTITION BY event_type) AS n
                FROM vals
            ),
            bounds AS (
                SELECT event_type,
                       CAST(MIN(v) AS BIGINT) AS p05_cents,
                       CAST(MAX(v) AS BIGINT) AS p95_cents
                FROM ranked
                WHERE r = (5 * n + 99) // 100
                   OR r = (95 * n + 99) // 100
                GROUP BY 1
            )
            SELECT v.event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   MAX(b.p05_cents) AS p05_cents,
                   MAX(b.p95_cents) AS p95_cents,
                   {_sql_q(
                       "SUM(GREATEST(b.p05_cents,"
                       " LEAST(b.p95_cents, v.v)))"
                       " / COUNT(*) / 100.0", 4
                   )} AS winsorized_mean
            FROM vals v JOIN bounds b USING (event_type)
            GROUP BY 1 ORDER BY 1
        """)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type — the robust-statistics
    companion of the outlier gates: clamp values below the discrete
    p05 (and above the p95) to those bounds, then average — the
    tail-insensitive center a monitoring dashboard should trend.
    Exact construction end to end: ranks are total-ordered integers
    (cents, then event_id), the bound ranks are the integer formula
    ceil(q·N) = (q·N + 99) DIV 100, the bounds are the cent VALUES at
    those ranks (discrete percentiles — no interpolation floats), the
    clamp is integer least/greatest, and the mean is one
    micro-quantized division of an exact sum. Shape: one rank window
    per type + a 2-row-per-group bound table broadcast back; windows
    are event_type-partitioned, never global."""
    ev = _t(spark, sf_dir, "events")
    vals = ev.select(
        "event_type", "event_id", _cents("value").alias("v")
    ).filter(F.col("v").isNotNull())
    w = Window.partitionBy("event_type").orderBy(
        F.asc("v"), F.asc("event_id")
    )
    ranked = vals.withColumn("__r", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    lo_r = F.expr("(5 * __n + 99) DIV 100")
    hi_r = F.expr("(95 * __n + 99) DIV 100")
    bounds = (
        ranked.filter(
            (F.col("__r") == lo_r) | (F.col("__r") == hi_r)
        )
        .groupBy("event_type")
        .agg(
            F.min("v").alias("p05_cents"),
            F.max("v").alias("p95_cents"),
        )
    )
    return (
        vals.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("p05_cents").alias("p05_cents"),
            F.max("p95_cents").alias("p95_cents"),
            F.sum(
                F.greatest(
                    F.col("p05_cents"),
                    F.least(F.col("p95_cents"), F.col("v")),
                )
            ).alias("wsum"),
        )
        .select(
            "event_type",
            "n",
            "p05_cents",
            "p95_cents",
            _q(F.col("wsum") / F.col("n") / 100.0, 4).alias(
                "winsorized_mean"
            ),
        )
        .orderBy("event_type")
    )


@query(f"""
            WITH obs AS (
                SELECT CAST(substring(CAST(CAST(FLOOR(o_totalprice)
                                AS BIGINT) AS VARCHAR), 1, 1) AS INT)
                           AS d,
                       CAST(COUNT(*) AS BIGINT) AS observed
                FROM orders WHERE o_totalprice >= 1
                GROUP BY 1
            ),
            tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS n_total
                    FROM obs),
            benford AS (
                SELECT UNNEST(generate_series(1, 9)) AS d
            ),
            b2 AS (
                SELECT d,
                       FLOOR(log10(1 + 1.0 / d) * 1e6 + 0.5) / 1e6
                           AS p_benford
                FROM benford
            )
            SELECT b2.d,
                   COALESCE(obs.observed, 0) AS observed,
                   b2.p_benford,
                   {_sql_q("n_total * p_benford", 4)} AS expected,
                   {_sql_q(
                       "(COALESCE(obs.observed, 0) - n_total * p_benford)"
                       " * (COALESCE(obs.observed, 0)"
                       "    - n_total * p_benford)"
                       " / (n_total * p_benford)", 6
                   )} AS chi2_contrib
            FROM b2 LEFT JOIN obs USING (d), tot
            ORDER BY b2.d
        """)
def q_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law leading-digit audit of order totals — the classic
    fabricated-data forensic (natural multi-scale amounts follow
    P(d) = log₁₀(1+1/d); synthetic or manipulated figures usually
    don't): per digit 1–9, the observed count beside the Benford
    expectation and the χ² contribution. Determinism: the leading
    digit comes from the INTEGER part's string form (no float log10
    whose ulp could misclassify a power-of-ten boundary), expectations
    are the 9 log₁₀ literals micro-quantized once, and the χ²
    contribution is micro-quantized after one IEEE expression — so the
    audit hash-matches cross-engine. One scan, 9-row output."""
    orders = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    obs = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    total = obs.agg(F.sum("observed").alias("n_total"))
    import math

    benford = spark.createDataFrame(
        [
            (d, math.floor(math.log10(1 + 1 / d) * 1e6 + 0.5) / 1e6)
            for d in range(1, 10)
        ],
        "d int, p_benford double",
    )
    exp = F.col("n_total") * F.col("p_benford")
    obs0 = F.coalesce("observed", F.lit(0))
    chi = (obs0 - exp) * (obs0 - exp) / exp
    # broadcast the RIGHT side: Spark cannot build the left (stream)
    # side of a left-outer join, so a hint on `benford` would be
    # silently dropped (HintErrorLogger WARN); `obs` is the legal
    # build side and is ≤ 9 rows by construction
    return (
        benford.join(F.broadcast(obs), "d", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "d",
            obs0.alias("observed"),
            "p_benford",
            _q(exp, 4).alias("expected"),
            _q(chi, 6).alias("chi2_contrib"),
        )
        .orderBy("d")
    )


def _cut_bucket(key: str, cuts: list[float]):
    """Range-bucket id for `key` against sorted distinct cutpoints:
    strict > per cutpoint, so equal keys always share a bucket — the
    pure-function bucketing _dist_rank and its callers must agree on."""
    cuts = sorted(set(cuts))
    return sum(
        (F.when(F.col(key) > F.lit(c), 1).otherwise(0) for c in cuts),
        F.lit(0),
    )


def _dist_rank(
    df: DataFrame,
    key: str,
    tie: str,
    out: str,
    cuts: list[float],
    counts: dict[int, int] | None = None,
) -> DataFrame:
    """Global row_number() over (key ASC, tie ASC) WITHOUT the
    single-partition window (the scale-killer Spark warns about as
    "WindowExec: No Partition Defined"): pre-fetched approx-quantile
    cutpoints — inlined as literals so the bucket is a pure function of
    the row — range-bucket the rows, each bucket ranks in parallel, and
    each bucket's cumulative row offset (a bounded driver fetch of ONE
    count per bucket) converts local rank to global. Equal keys always
    share a bucket (strict > against each cutpoint), so the composed
    order is the exact total order. Same cutpoint-bucket +
    bounded-carry machinery as order_quartiles / pareto_front_orders.

    `counts` (optional): precomputed {bucket_id: row_count} — lets the
    caller fetch the bucket histograms for SEVERAL ranks in one
    aggregate job (q_rfm_segments groups once over its three pid
    columns jointly) instead of one count job per rank."""
    spark = df.sparkSession
    part = df.withColumn("__pid", _cut_bucket(key, cuts))
    if counts is None:
        counts = {
            r["__pid"]: r["n"]
            for r in part.groupBy("__pid")
            .agg(F.count("*").alias("n"))
            .collect()
        }
    counts = sorted(counts.items())
    offsets, acc = [], 0
    for p, n_rows in counts:
        offsets.append((p, acc))
        acc += n_rows
    off = spark.createDataFrame(offsets, "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(F.asc(key), F.asc(tie))
    return (
        part.join(F.broadcast(off), "__pid")
        .withColumn(out, F.col("__off") + F.row_number().over(w))
        .drop("__pid", "__off")
    )


def _dist_cumsum(
    df: DataFrame,
    key: str,
    tie: str,
    cols: list[str],
    cuts: list[float],
    rank_out: str | None = None,
) -> DataFrame:
    """Distributed RUNNING TOTALS over the global (key ASC, tie ASC)
    order — the prefix-sum sibling of _dist_rank, same cutpoint-bucket
    + bounded-carry machinery: rows range-bucket on pre-fetched
    cutpoints (pure function of the row), each bucket computes its
    local running sums in a PARTITIONED window, and each bucket's
    starting offset per column (one bounded driver fetch of one sum
    per bucket) lifts local to global. Equal keys share a bucket
    (strict > per cutpoint), so the composed order is the exact total
    order. Adds `cum_<col>` for each input col. This is what ECDFs,
    Lorenz curves, and KS statistics need at corpus scale — a running
    sum with NO single-partition WindowExec.

    `rank_out` (optional): also emit the global row_number over the
    SAME order — identical construction to _dist_rank, but the bucket
    row counts ride the one census collect and the row_number shares
    the cumsum's partitioning+sort, so callers that need rank AND
    running totals (Lorenz, coverage, skew reports) pay ONE census
    job and ONE shuffled pass instead of two of each plus a re-join
    (guide §1.2)."""
    spark = df.sparkSession
    part = df.withColumn("__pid", _cut_bucket(key, cuts))
    btots = sorted(
        (r["__pid"], r)
        for r in part.groupBy("__pid")
        .agg(
            *[F.sum(c).alias(c) for c in cols],
            F.count(F.lit(1)).alias("__n"),
        )
        .collect()
    )
    offsets, acc, acc_n = [], {c: 0 for c in cols}, 0
    for p, r in btots:
        offsets.append(tuple([p] + [acc[c] for c in cols] + [acc_n]))
        for c in cols:
            acc[c] += r[c] or 0
        acc_n += r["__n"]
    off_schema = (
        "__pid int, "
        + ", ".join(f"__off_{c} long" for c in cols)
        + ", __off_n long"
    )
    off = spark.createDataFrame(offsets, off_schema)
    w = (
        Window.partitionBy("__pid")
        .orderBy(F.asc(key), F.asc(tie))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = part.join(F.broadcast(off), "__pid")
    for c in cols:
        out = out.withColumn(
            f"cum_{c}", F.col(f"__off_{c}") + F.sum(c).over(w)
        )
    if rank_out is not None:
        wr = Window.partitionBy("__pid").orderBy(F.asc(key), F.asc(tie))
        out = out.withColumn(
            rank_out, F.col("__off_n") + F.row_number().over(wr)
        )
    return out.drop(
        "__pid", "__off_n", *[f"__off_{c}" for c in cols]
    )


@query("""
            WITH pu AS (
                SELECT user_id,
                       MAX(CAST(FLOOR(epoch(ts) / 86400) AS BIGINT))
                           AS last_d,
                       CAST(COUNT(*) AS BIGINT) AS frequency,
                       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                            AS BIGINT) AS monetary_cents
                FROM events WHERE event_type = 'purchase'
                GROUP BY 1
            ),
            anchor AS (
                SELECT MAX(CAST(FLOOR(epoch(ts) / 86400) AS BIGINT))
                           AS anchor_d
                FROM events
            ),
            base AS (
                SELECT user_id,
                       anchor_d - last_d AS recency_days,
                       frequency, monetary_cents
                FROM pu, anchor
            ),
            n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM base),
            ranked AS (
                SELECT base.*,
                       ROW_NUMBER() OVER (
                           ORDER BY recency_days ASC, user_id ASC) AS rr,
                       ROW_NUMBER() OVER (
                           ORDER BY frequency DESC, user_id ASC) AS rf,
                       ROW_NUMBER() OVER (
                           ORDER BY monetary_cents DESC, user_id ASC) AS rm,
                       n_users
                FROM base, n
            )
            SELECT user_id, recency_days, frequency, monetary_cents,
                   CAST(
                       LEAST(4, (rr - 1) * 4 // n_users + 1) * 100
                       + LEAST(4, (rf - 1) * 4 // n_users + 1) * 10
                       + LEAST(4, (rm - 1) * 4 // n_users + 1)
                   AS BIGINT) AS rfm
            FROM ranked ORDER BY user_id
        """)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (the classic recency/frequency/monetary
    customer grid) with fully deterministic quartiles: each purchase
    user gets rank-based quartile codes computed as the INTEGER
    formula least(4, (rank−1)·4 DIV N + 1) over total-ordered ranks
    (metric, then user_id — no NTILE boundary ties, no float
    percentile edges an engine could flip). Recency anchors at the
    corpus max event day (integer epoch-day arithmetic, NTZ-safe).
    The three global ranks are DISTRIBUTED (r7: this was the catalog's
    only remaining single-partition WindowExec, ×3): the per-user
    aggregate materializes once (localCheckpoint — events scan once),
    one approxQuantile pass fetches cutpoints for all three sort keys,
    and _dist_rank range-buckets + offset-carries each rank in
    parallel — identical ranks (the unchanged oracle pins it), no
    "No Partition Defined" stage at any scale. Descending axes rank on
    the negated metric so one ascending helper serves all three.
    Output: per user, the raw metrics and the 111..444 segment code
    (1 = best quartile on each axis)."""
    ev = _t(spark, sf_dir, "events")
    day = (F.floor(_epoch_sec(F.col("ts")) / 86400)).cast("long")
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", day.alias("d"), _cents("value").alias("v"))
        .groupBy("user_id")
        .agg(
            F.max("d").alias("last_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("v").alias("monetary_cents"),
        )
    )
    anchor = ev.agg(F.max(day).alias("anchor_d"))
    base = (
        pu.crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            (F.col("anchor_d") - F.col("last_d")).alias("recency_days"),
            "frequency",
            "monetary_cents",
            (-F.col("frequency")).alias("__nf"),
            (-F.col("monetary_cents")).alias("__nm"),
        )
        .localCheckpoint(eager=False)
    )
    cr, cf, cm = base.stat.approxQuantile(
        ["recency_days", "__nf", "__nm"],
        [i / 8 for i in range(1, 8)],
        0.001,
    )
    # ONE joint histogram job feeds all three bucket-offset maps: the
    # (pid_r, pid_f, pid_m) group-by is <= 8^3 rows however many users
    # exist, and each rank's marginal falls out driver-side — vs one
    # count job per _dist_rank call (3 jobs -> 1)
    hist = (
        base.select(
            _cut_bucket("recency_days", cr).alias("__pr"),
            _cut_bucket("__nf", cf).alias("__pf"),
            _cut_bucket("__nm", cm).alias("__pm"),
        )
        .groupBy("__pr", "__pf", "__pm")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    marg_r: dict[int, int] = {}
    marg_f: dict[int, int] = {}
    marg_m: dict[int, int] = {}
    n_users = 0
    for r in hist:
        marg_r[r["__pr"]] = marg_r.get(r["__pr"], 0) + r["n"]
        marg_f[r["__pf"]] = marg_f.get(r["__pf"], 0) + r["n"]
        marg_m[r["__pm"]] = marg_m.get(r["__pm"], 0) + r["n"]
        n_users += r["n"]
    ranked = _dist_rank(base, "recency_days", "user_id", "__rr", cr, marg_r)
    ranked = _dist_rank(ranked, "__nf", "user_id", "__rf", cf, marg_f)
    ranked = _dist_rank(ranked, "__nm", "user_id", "__rm", cm, marg_m)
    n = base.agg(F.count(F.lit(1)).alias("n_users"))

    def quart(rank_col):
        return F.least(
            F.lit(4),
            F.expr(f"({rank_col} - 1) * 4 DIV n_users") + 1,
        )

    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary_cents",
            (
                quart("__rr") * 100 + quart("__rf") * 10 + quart("__rm")
            ).alias("rfm"),
        )
        .orderBy("user_id")
    )


@query(f"""
            WITH t0 AS (SELECT MIN(epoch_us(ts)) AS t0 FROM events),
            base AS (
                SELECT event_type,
                       (epoch_us(ts) - t0) // 1000000 AS x,
                       CAST(ROUND(value * 100, 0) AS BIGINT) AS y
                FROM events, t0
            ),
            s AS (
                SELECT event_type,
                       COUNT(*) AS n,
                       CAST(SUM(x) AS BIGINT) AS sx,
                       CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x * y) AS BIGINT) AS sxy,
                       CAST(SUM(x * x) AS BIGINT) AS sxx,
                       CAST(SUM(y * y) AS BIGINT) AS syy
                FROM base GROUP BY 1
            )
            SELECT event_type, n,
                   {_sql_q(
                       "(CAST(n AS DOUBLE) * sxy"
                       " - CAST(sx AS DOUBLE) * sy)"
                       " / (CAST(n AS DOUBLE) * sxx"
                       "    - CAST(sx AS DOUBLE) * sx)", 8
                   )} AS slope_cents_per_sec,
                   {_sql_q(
                       "(sy - ((CAST(n AS DOUBLE) * sxy"
                       "        - CAST(sx AS DOUBLE) * sy)"
                       "       / (CAST(n AS DOUBLE) * sxx"
                       "          - CAST(sx AS DOUBLE) * sx)) * sx)"
                       " / CAST(n AS DOUBLE) / 100.0", 4
                   )} AS intercept_value,
                   {_sql_q(
                       "(CAST(n AS DOUBLE) * sxy"
                       " - CAST(sx AS DOUBLE) * sy)"
                       " / SQRT((CAST(n AS DOUBLE) * sxx"
                       "         - CAST(sx AS DOUBLE) * sx)"
                       "        * (CAST(n AS DOUBLE) * syy"
                       "           - CAST(sy AS DOUBLE) * sy))", 6
                   )} AS pearson_r
            FROM s
            ORDER BY event_type
        """)
def q_regression_stats_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SQL-standard regression aggregates (REGR_SLOPE / REGR_INTERCEPT
    / CORR class) per event_type: does value trend over time? Closed
    form from five EXACT integer sums — x as seconds since the corpus
    epoch (bounded, so x² sums fit BIGINT), y as cents — then the
    slope/intercept/r formulas as double products OF those exact
    integers in a pinned order: every multiply, subtract, divide, and
    sqrt is a correctly-rounded IEEE op on identical operands, so both
    engines produce the same bits. The aggregation itself is one
    map-side-combinable groupBy — the same one-pass shape the builtin
    regr_* aggregates compile to."""
    ev = _t(spark, sf_dir, "events")
    t0 = ev.agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("t0")
    )
    base = (
        ev.crossJoin(F.broadcast(t0))
        .select(
            "event_type",
            (F.unix_micros(F.col("ts").cast("timestamp")) - F.col("t0"))
            .alias("xus"),
            F.round(F.col("value") * 100, 0).cast("long").alias("y"),
        )
        # integer DIV, not cast-of-division: Spark's double→long cast
        # truncates while DuckDB's rounds — DIV/​// agree for xus >= 0
        .select(
            "event_type", F.expr("xus DIV 1000000").alias("x"), "y"
        )
    )
    s = base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    cov_n = n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    var_x = n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    var_y = n * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    slope = cov_n / var_x
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r = cov_n / F.sqrt(var_x * var_y)
    return s.select(
        "event_type",
        "n",
        _q(slope, 8).alias("slope_cents_per_sec"),
        _q(intercept / 100.0, 4).alias("intercept_value"),
        _q(r, 6).alias("pearson_r"),
    ).orderBy("event_type")


@query(f"""
            WITH j AS (
                SELECT event_type, c_mktsegment AS segment
                FROM events JOIN customer ON user_id = c_custkey
            ),
            nxy AS (SELECT event_type, segment, COUNT(*) AS n_xy
                    FROM j GROUP BY 1, 2),
            nx AS (SELECT event_type, COUNT(*) AS n_x FROM j GROUP BY 1),
            ny AS (SELECT segment, COUNT(*) AS n_y FROM j GROUP BY 1),
            nn AS (SELECT COUNT(*) AS n_total FROM j)
            SELECT event_type, segment, n_xy,
                   CAST(FLOOR(ln(
                       CAST(n_total * n_xy AS DOUBLE) / (n_x * n_y)
                   ) * 1e6 + 0.5) AS BIGINT) AS pmi_micro,
                   {_sql_q(
                       "CAST(FLOOR(ln("
                       "CAST(n_total * n_xy AS DOUBLE) / (n_x * n_y)"
                       ") * 1e6 + 0.5) AS BIGINT) / 1e6", 6
                   )} AS pmi
            FROM nxy JOIN nx USING (event_type)
            JOIN ny USING (segment), nn
            ORDER BY event_type, segment
        """)
def q_pmi_events_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event types and customer
    market segments — the association/collocation-mining primitive
    (which behaviors over- or under-index in which segment; the same
    math scores word collocations in corpus analysis). PMI(x,y) =
    ln(N·n_xy / (n_x·n_y)) from four EXACT integer counts: the ratio
    is one double division of exact-integer products (< 2^53, so the
    products are exact and the division correctly rounded), ln
    quantizes to micro-nats, and the table is tiny (|types|×|segments|)
    after one fact-sized aggregate with broadcast margins."""
    ev = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(
        F.broadcast(c), F.col("user_id") == F.col("c_custkey")
    ).select("event_type", F.col("c_mktsegment").alias("segment"))
    nxy = joined.groupBy("event_type", "segment").agg(
        F.count("*").alias("n_xy")
    )
    nx = joined.groupBy("event_type").agg(F.count("*").alias("n_x"))
    ny = joined.groupBy("segment").agg(F.count("*").alias("n_y"))
    nn = joined.agg(F.count("*").alias("n_total"))
    ratio = (
        (F.col("n_total") * F.col("n_xy")).cast("double")
        / (F.col("n_x") * F.col("n_y"))
    )
    pmi_micro = F.floor(F.log(ratio) * 1e6 + F.lit(0.5)).cast("long")
    return (
        nxy.join(F.broadcast(nx), "event_type")
        .join(F.broadcast(ny), "segment")
        .crossJoin(F.broadcast(nn))
        .select(
            "event_type",
            "segment",
            "n_xy",
            pmi_micro.alias("pmi_micro"),
            _q(pmi_micro / 1e6, 6).alias("pmi"),
        )
        .orderBy("event_type", "segment")
    )


@query(f"""
            WITH j AS (
                SELECT event_type, c_mktsegment AS segment
                FROM events JOIN customer ON user_id = c_custkey
            ),
            nxy AS (SELECT event_type, segment, COUNT(*) AS n_xy
                    FROM j GROUP BY 1, 2),
            nx AS (SELECT event_type, COUNT(*) AS n_x FROM j GROUP BY 1),
            ny AS (SELECT segment, COUNT(*) AS n_y FROM j GROUP BY 1),
            nn AS (SELECT COUNT(*) AS n_total FROM j),
            cells AS (
                SELECT n_xy, n_x, n_y, n_total,
                       event_type, segment,
                       CAST(n_x * n_y AS DOUBLE) / n_total AS expected
                FROM nxy JOIN nx USING (event_type)
                JOIN ny USING (segment), nn
            ),
            agg AS (
                SELECT CAST(SUM(CAST(FLOOR(
                           ((n_xy - expected) * (n_xy - expected)
                            / expected) * 1e6 + 0.5
                       ) AS BIGINT)) AS BIGINT) AS chi2_micro,
                       COUNT(DISTINCT event_type) AS r,
                       COUNT(DISTINCT segment) AS s,
                       MAX(n_total) AS n_total
                FROM cells
            )
            SELECT chi2_micro,
                   {_sql_q("chi2_micro / 1e6", 4)} AS chi2,
                   CAST((r - 1) * (s - 1) AS BIGINT) AS dof,
                   {_sql_q(
                       "SQRT(chi2_micro / 1e6"
                       " / (n_total * LEAST(r - 1, s - 1)))", 6
                   )} AS cramers_v
            FROM agg
        """)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence for the event_type × segment
    contingency table (is behavior independent of customer segment?) —
    the categorical hypothesis-test primitive behind feature selection
    and A/B sanity checks. Each cell's (observed−expected)²/expected
    contribution is computed from exact integer counts and quantized to
    micro-units BEFORE the sum, so the statistic is an exact BIGINT sum
    — independent of cell aggregation order in either engine. Output:
    one row with chi2, degrees of freedom, and Cramér's V effect size.
    """
    ev = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(
        F.broadcast(c), F.col("user_id") == F.col("c_custkey")
    ).select("event_type", F.col("c_mktsegment").alias("segment"))
    nxy = joined.groupBy("event_type", "segment").agg(
        F.count("*").alias("n_xy")
    )
    nx = joined.groupBy("event_type").agg(F.count("*").alias("n_x"))
    ny = joined.groupBy("segment").agg(F.count("*").alias("n_y"))
    nn = joined.agg(F.count("*").alias("n_total"))
    cells = (
        nxy.join(F.broadcast(nx), "event_type")
        .join(F.broadcast(ny), "segment")
        .crossJoin(F.broadcast(nn))
    )
    expected = (F.col("n_x") * F.col("n_y")).cast("double") / F.col(
        "n_total"
    )
    diff = F.col("n_xy") - expected
    contrib_micro = F.floor(
        (diff * diff / expected) * 1e6 + F.lit(0.5)
    ).cast("long")
    agg = cells.agg(
        F.sum(contrib_micro).alias("chi2_micro"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("segment").alias("s"),
        F.max("n_total").alias("n_total"),
    )
    chi2 = F.col("chi2_micro") / 1e6
    dof = (F.col("r") - 1) * (F.col("s") - 1)
    cramers_v = F.sqrt(
        chi2
        / (
            F.col("n_total")
            * F.least(F.col("r") - 1, F.col("s") - 1)
        )
    )
    return agg.select(
        "chi2_micro",
        _q(chi2, 4).alias("chi2"),
        dof.cast("long").alias("dof"),
        _q(cramers_v, 6).alias("cramers_v"),
    )


#: Poisson(1) CDF cutoffs scaled to the 60-bit md5-prefix domain and
#: FLOORED to integers in Python — inlined as literals in both engines,
#: so the replica weights are a pure integer comparison on the hash
#: (no float boundary). Tail capped at w=5 (P(X>5|λ=1) ≈ 5.9e-4).
_POIS1_CUT = [
    math.floor(
        sum(math.exp(-1.0) / math.factorial(j) for j in range(k + 1))
        * (1 << 60)
    )
    for k in range(5)
]


@query(lambda: _bootstrap_sql(32))
def q_bootstrap_ci_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Poisson bootstrap CI for the mean order value — the
    ONLY bootstrap that works at 100 TB (resampling n rows from n is
    impossible without global coordination; Poisson(1) weights per row
    per replica are iid-equivalent and embarrassingly parallel — the
    streaming-bootstrap construction of Chamandy et al., "Estimating
    uncertainty for massive data streams", Google 2012). Engine-exact
    everywhere a classical bootstrap would use an RNG: replica b's
    weight for a row is Poisson(1) sampled by comparing the row's
    60-bit md5 prefix against PRE-FLOORED integer CDF cutoffs
    (_POIS1_CUT literals — identical in the DuckDB twin), so the
    'randomness' is a pure function of (order key, replica id). All 32
    replicas accumulate in ONE aggregate pass (64 conditional-sum
    expressions — the langid one-pass discipline, no ×32 row
    explosion); replica means are exact integer micro-cents (DECIMAL38
    multiply, integer DIV); the 95% band is the DISCRETE 2nd/31st
    order statistic of the 32 sorted replica means (the
    winsorized_stats rank discipline — no interpolation, no float
    percentile edges). Output: one row — n_orders, the point mean, the
    CI bounds and width, all in micro-cents."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("k"),
        _cents("o_totalprice").alias("cents"),
    )
    B = 32

    # the 32-replica weight CASEs are IDENTICAL arithmetic to the old
    # Column-API construction (md5-prefix uniform vs pre-floored
    # Poisson(1) CDF cutoffs), but built as SQL strings: the Column
    # loop paid ~700 py4j round-trips (~1.7 s of driver-side
    # construction per run vs 0.1 s of execution — the
    # pq_distortion_report finding, same fix).
    def w_sql(b: int) -> str:
        u = (
            f"CAST(conv(substring(md5(concat(k, ':{b}')), 1, 15), 16, 10) "
            f"AS BIGINT)"
        )
        whens = " ".join(
            f"WHEN {u} < {_POIS1_CUT[wt]}L THEN {wt}"
            for wt in range(0, 5)
        )
        return f"CASE {whens} ELSE 5 END"

    aggs = []
    for b in range(B):
        wb = w_sql(b)
        aggs.append(F.expr(f"sum(({wb}) * cents)").alias(f"__s{b}"))
        aggs.append(F.expr(f"sum({wb})").alias(f"__n{b}"))
    agg = o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("__tot"),
        *aggs,
    )
    # exact floor(s·1e6 / n) in pure BIGINT via the split identity —
    # no DECIMAL division (whose result-scale rounding could flip the
    # last micro digit vs DuckDB's exact HUGEINT //) and no overflow
    # until n approaches 9e12 rows per replica
    mean_micro = lambda s, n: F.expr(  # noqa: E731
        f"({s} DIV {n}) * 1000000 + (({s} % {n}) * 1000000) DIV {n}"
    )
    means = F.array_sort(
        F.array(*[mean_micro(f"__s{b}", f"__n{b}") for b in range(B)])
    )
    return agg.select(
        "n_orders",
        mean_micro("__tot", "n_orders").alias("point_mean_micro"),
        F.element_at(means, 2).alias("ci_lo_micro"),
        F.element_at(means, B - 1).alias("ci_hi_micro"),
        (F.element_at(means, B - 1) - F.element_at(means, 2)).alias(
            "ci_width_micro"
        ),
    )


@query("""
            WITH pc AS (
                SELECT o_custkey,
                       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0)
                                     AS BIGINT)) AS BIGINT) AS cents
                FROM orders GROUP BY o_custkey
            ), r AS (
                SELECT cents,
                       row_number() OVER (ORDER BY cents, o_custkey)
                           AS rk
                FROM pc
            ), agg AS (
                SELECT COUNT(*) AS n_customers,
                       SUM(cents) AS total_cents,
                       SUM(rk * cents) AS srx
                FROM r
            )
            SELECT CAST(n_customers AS BIGINT) AS n_customers,
                   CAST(total_cents AS BIGINT) AS total_cents,
                   CAST((2 * srx - (n_customers + 1) * total_cents)
                        * 1000000 // n_customers // total_cents
                   AS BIGINT) AS gini_micro
            FROM agg
        """)
def q_gini_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of per-customer spend — the
    standard inequality metric (Gini 1912, via the rank-sum identity
    G = (2·Σᵢ i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted x), the
    how-concentrated-is-my-corpus number that data pipelines run on
    spend, token counts, and shard sizes alike. Engine-exact: spend is
    BIGINT cents, the global ascending rank comes from _dist_rank
    (cutpoint buckets + offset carry — no single-partition window over
    the customer table), and the final ratio
    (2·Σrx − (n+1)·Σx)·10⁶ / (n·Σx) is one DECIMAL(38,0) integral
    divide (Spark `div` on decimals floors and returns BIGINT; DuckDB
    replays it in native HUGEINT) — the numerator is nonnegative by
    the sorted-rank construction, so truncate == floor in both
    engines. Output: one row — n_customers, total_cents,
    gini_micro ∈ [0, 1e6)."""
    o = _t(spark, sf_dir, "orders")
    # materialize the per-customer aggregate once: approxQuantile, the
    # _dist_rank offset fetch, and the final aggregate are three
    # actions that each re-ran the orders scan + groupBy (guide §1.2).
    per_cust = (
        o.groupBy("o_custkey")
        .agg(F.sum(_cents("o_totalprice")).alias("cents"))
        .localCheckpoint(eager=False)
    )
    cuts = per_cust.stat.approxQuantile(
        "cents", [i / 8 for i in range(1, 8)], 0.001
    )
    ranked = _dist_rank(
        per_cust, "cents", "o_custkey", "__rk", [float(c) for c in cuts]
    )
    agg = ranked.agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        F.sum(F.col("__rk") * F.col("cents")).alias("__srx"),
    )
    # nested floor-div: floor(floor(a/n)/t) == floor(a/(n·t)) for
    # positive integers — keeps every intermediate inside DECIMAL(38,0)
    return agg.select(
        "n_customers",
        "total_cents",
        F.expr(
            "CAST((2 * __srx - (n_customers + 1) * total_cents)"
            " AS DECIMAL(38,0)) * 1000000"
            " div CAST(n_customers AS DECIMAL(38,0))"
            " div CAST(total_cents AS DECIMAL(38,0))"
        ).alias("gini_micro"),
    )


@query("""
            WITH banded AS (
                SELECT c_nationkey, c_mktsegment,
                       CASE WHEN c_acctbal < 0 THEN 0
                            WHEN c_acctbal < 5000 THEN 1
                            ELSE 2 END AS band
                FROM customer
            ), cls AS (
                SELECT c_nationkey, c_mktsegment,
                       COUNT(*) AS nc,
                       CAST(SUM(CASE WHEN band <= 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS a1,
                       CAST(SUM(CASE WHEN band <= 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS a2
                FROM banded GROUP BY c_nationkey, c_mktsegment
            ), gl AS (
                SELECT COUNT(*) AS ng,
                       CAST(SUM(CASE WHEN band <= 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS b1,
                       CAST(SUM(CASE WHEN band <= 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS b2
                FROM banded
            ), emd AS (
                SELECT nc,
                       (abs(a1 * ng - b1 * nc) + abs(a2 * ng - b2 * nc))
                           // (2 * nc * ng) * 1000000
                       + ((abs(a1 * ng - b1 * nc) + abs(a2 * ng - b2 * nc))
                           % (2 * nc * ng)) * 1000000 // (2 * nc * ng)
                           AS emd_micro
                FROM cls, gl
            )
            SELECT t_micro,
                   COUNT(*) AS n_classes,
                   CAST(SUM(CASE WHEN emd_micro > t_micro THEN 1 ELSE 0 END)
                        AS BIGINT) AS classes_above_t,
                   CAST(SUM(CASE WHEN emd_micro > t_micro THEN nc ELSE 0 END)
                        AS BIGINT) AS rows_exposed,
                   CAST(MAX(emd_micro) AS BIGINT) AS max_emd_micro
            FROM emd,
                 (SELECT UNNEST([100000, 150000, 250000]) AS t_micro)
            GROUP BY t_micro ORDER BY t_micro
        """)
def q_t_closeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third leg of the privacy-audit triad (with
    k_anonymity_report and l_diversity_report): t-CLOSENESS (Li,
    Li & Venkatasubramanian, ICDE 2007) — a QI class leaks when its
    SENSITIVE-attribute distribution diverges from the table-wide one
    (l-diversity misses skew: a class that is 99% 'neg' is 'diverse'
    but tells an attacker almost everything). Distance is the ordinal
    Earth-Mover's Distance of the paper:
    EMD = (1/(m-1))·Σᵢ |Σ_{j≤i}(p_j − q_j)| over the m=3 ordered
    balance bands (neg < low < high — the l_diversity_report bands,
    deliberately shared). Integer-exact: with class counts Aᵢ
    (cumulative) over N_c rows and global Bᵢ over N_g, the i-th term
    is |Aᵢ·N_g − Bᵢ·N_c| and EMD_micro = Σ·10⁶ / ((m−1)·N_c·N_g) via
    the split-division identity — no float ever; with m = 3 the two
    prefixes are plain conditional sums, no window. Output per
    threshold t ∈ {0.10, 0.15, 0.25}: classes whose EMD exceeds t,
    their row exposure, and the worst class EMD — the
    publish-at-this-t suppression cost, same shape as the k/l
    reports."""
    cust = _t(spark, sf_dir, "customer")
    banded = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, 0)
        .when(F.col("c_acctbal") < 5000, 1)
        .otherwise(2)
        .alias("band"),
    )
    cls = banded.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("nc"),
        F.sum((F.col("band") <= 0).cast("long")).alias("a1"),
        F.sum((F.col("band") <= 1).cast("long")).alias("a2"),
    )
    glob = banded.agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum((F.col("band") <= 0).cast("long")).alias("b1"),
        F.sum((F.col("band") <= 1).cast("long")).alias("b2"),
    )
    num = F.abs(
        F.col("a1") * F.col("ng") - F.col("b1") * F.col("nc")
    ) + F.abs(F.col("a2") * F.col("ng") - F.col("b2") * F.col("nc"))
    emd = cls.crossJoin(F.broadcast(glob)).select(
        "c_nationkey",
        "c_mktsegment",
        "nc",
        num.alias("__num"),
        (F.lit(2) * F.col("nc") * F.col("ng")).alias("__den"),
    ).select(
        "c_nationkey",
        "c_mktsegment",
        "nc",
        F.expr(
            "__num DIV __den * 1000000"
            " + (__num % __den) * 1000000 DIV __den"
        ).alias("emd_micro"),
    )
    ts = spark.createDataFrame(
        [(100000,), (150000,), (250000,)], "t_micro long"
    )
    return (
        emd.crossJoin(F.broadcast(ts))
        .groupBy("t_micro")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(
                F.when(F.col("emd_micro") > F.col("t_micro"), 1).otherwise(0)
            )
            .cast("long")
            .alias("classes_above_t"),
            F.sum(
                F.when(
                    F.col("emd_micro") > F.col("t_micro"), F.col("nc")
                ).otherwise(0)
            )
            .cast("long")
            .alias("rows_exposed"),
            F.max("emd_micro").alias("max_emd_micro"),
        )
        .orderBy("t_micro")
    )


@query("""
            WITH pc AS (
                SELECT o_custkey,
                       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0)
                                     AS BIGINT)) AS BIGINT) AS cents
                FROM orders GROUP BY o_custkey
            ), r AS (
                SELECT cents,
                       row_number() OVER (ORDER BY cents, o_custkey)
                           AS rk
                FROM pc
            ), cm AS (
                SELECT rk,
                       SUM(cents) OVER (ORDER BY rk
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum_cents
                FROM r
            ), t AS (
                SELECT COUNT(*) AS n, SUM(cents) AS tot FROM pc
            ), b AS (
                SELECT d AS decile, (d * n) // 10 AS rk, tot
                FROM t, (SELECT UNNEST(generate_series(1, 10)) AS d)
            )
            SELECT CAST(decile AS BIGINT) AS decile,
                   CAST(b.rk AS BIGINT) AS boundary_rank,
                   CAST(cum_cents AS BIGINT) AS cum_cents,
                   CAST(cum_cents // tot * 1000000
                        + (cum_cents % tot) * 1000000 // tot
                   AS BIGINT) AS share_micro
            FROM b JOIN cm ON b.rk = cm.rk
            ORDER BY decile
        """)
def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lorenz curve behind gini_customer_spend, at decile
    resolution: customers sort ascending by spend, and each decile
    boundary reports the cumulative share of total spend held by the
    bottom d/10 of customers — the what-fraction-holds-what curve
    (bottom 50% holds X%, top 10% holds 1−Y%) that the scalar Gini
    summarizes. Machinery reuse on purpose: _dist_rank gives the
    global ascending rank and _dist_cumsum the running spend total
    over the SAME cutpoint buckets — no single-partition window
    anywhere — and the boundary rows (rank == floor(d·n/10)) filter
    map-side against a broadcast scalar n. share_micro is the exact
    split division. Output: 10 rows (decile, boundary_rank,
    cum_cents, share_micro)."""
    o = _t(spark, sf_dir, "orders")
    # materialized once: approxQuantile, the _dist_rank and
    # _dist_cumsum offset fetches, and the totals aggregate each
    # re-ran the orders scan + groupBy without it (guide §1.2).
    per_cust = (
        o.groupBy("o_custkey")
        .agg(F.sum(_cents("o_totalprice")).alias("cents"))
        .localCheckpoint(eager=False)
    )
    cuts = [
        float(c)
        for c in per_cust.stat.approxQuantile(
            "cents", [i / 8 for i in range(1, 8)], 0.001
        )
    ]
    # one census + one pass: rank rides the cumsum (guide §1.2)
    cum = _dist_cumsum(
        per_cust, "cents", "o_custkey", ["cents"], cuts, rank_out="__rk"
    )
    tot = per_cust.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("cents").alias("__tot")
    )
    # the 10 boundary ranks (floor(d·n/10)) form a 10-row broadcast —
    # the decile rows filter out of the ranked table in one tiny join
    bounds = tot.select(
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("decile"),
        "__n",
        "__tot",
    ).select(
        F.col("decile").cast("long").alias("decile"),
        F.expr("CAST(decile AS BIGINT) * __n DIV 10").alias("__rk"),
        "__tot",
    )
    return (
        cum.join(F.broadcast(bounds), "__rk")
        .select(
            "decile",
            F.col("__rk").alias("boundary_rank"),
            F.col("cum_cents"),
            F.expr(
                "cum_cents DIV __tot * 1000000"
                " + (cum_cents % __tot) * 1000000 DIV __tot"
            ).alias("share_micro"),
        )
        .orderBy("decile")
    )


@query("""
            WITH op AS (
                SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem
            ),
            n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM op),
            pp AS (SELECT pk, COUNT(*) AS c_part FROM op GROUP BY pk),
            pairs AS (
                SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS c_pair
                FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY a.pk, b.pk
            )
            SELECT pa, pb, c_pair,
                   ca.c_part AS c_a, cb.c_part AS c_b,
                   c_pair * 1000000 // n_orders AS support_micro,
                   c_pair * 1000000 // ca.c_part AS conf_a_to_b,
                   c_pair * 1000000 // cb.c_part AS conf_b_to_a,
                   CAST(CAST(c_pair AS HUGEINT) * n_orders * 1000000
                        // (CAST(ca.c_part AS HUGEINT) * cb.c_part)
                        AS BIGINT) AS lift_micro
            FROM pairs
            JOIN pp ca ON pairs.pa = ca.pk
            JOIN pp cb ON pairs.pb = cb.pk
            CROSS JOIN n
            ORDER BY c_pair DESC, pa ASC, pb ASC
            LIMIT 25
        """)
def q_market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over co-purchased parts (the
    Agrawal-Srikant Apriori setting, SIGMOD 1993 — restricted to the
    pairwise rules that matter in practice): for every pair of parts
    appearing in the same order, support / confidence (both
    directions) / lift from exact integer counts. The
    recommender-adjacent primitive beside event_cooccurrence (which
    pairs event TYPES per user; this pairs ITEMS per basket with the
    full rule metrics). Scale contract: the pair explosion is the
    orderkey-keyed self-join of the DISTINCT (order, part) list —
    pairs per order are C(w,2) with w = basket width, bounded by the
    order's line count (≤7 in TPC-H-shaped data), so the blow-up is a
    small constant × lineitem, never quadratic in the table; the
    per-part count table is |parts| rows — UNBOUNDED at web scale, so
    its joins carry no broadcast hint (AQE broadcasts while it is
    small, shuffles on pk once it is not — the vocabulary-join
    contract at operators/dedup.py:739). n_orders is a 1-row
    aggregate crossJoin-broadcast onto the pair table, not a separate
    driver action re-running the distinct lineage. Determinism:
    counts are BIGINT; support/confidence/lift are integer
    micro-units via DIV (the split-division identity is unnecessary —
    one multiply then DIV stays far inside BIGINT). Output: the 25
    most frequent pairs (count desc, part ids asc) with
    support_micro, conf_a_to_b/conf_b_to_a, and lift_micro scaled by
    10⁶."""
    li = _t(spark, sf_dir, "lineitem")
    # persist, NOT localCheckpoint: the distinct basket list is
    # FACT-SIZED (grows with lineitem), and localCheckpoint
    # materializes raw UnsafeRow copies in block-manager memory — at
    # the 100×-lineitem witness (tools/scaling.py basket) that OOMs
    # the executors, while the SQL columnar cache stores the two int
    # columns compressed and spills to disk. Same reuse (n / per_part
    # / both pair sides read one computation), cluster-safe storage.
    # LIFETIME (r14 advice): the cache is intentionally NOT unpersisted
    # here — the returned frame is lazy, so an unpersist before the
    # caller collects would recompute the distinct three times; the
    # cache manager dedupes re-runs by logical plan, so the session
    # holds at most ONE spillable copy per sf_dir, evicted LRU or at
    # session stop (the gate/bench processes are short-lived).
    op = (
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
        .persist()
    )
    n = op.agg(F.count_distinct("ok").alias("n_orders"))
    per_part = op.groupBy("pk").agg(F.count("*").alias("c_part"))
    a = op.select("ok", F.col("pk").alias("pa"))
    b = op.select("ok", F.col("pk").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("c_pair"))
    )
    # top-25 BEFORE the metric joins (r16, guide §1.2 — the
    # link_prediction_cn restructure): the selection order is
    # (c_pair DESC, pa, pb), computed entirely by the pair census, so
    # the TakeOrdered runs on the census and the per-part joins attach
    # counts to 25 rows instead of the full pair table. Every pa/pb has
    # a per_part row by construction (both came from `op`), so the
    # inner joins drop nothing; the final orderBy re-establishes the
    # output order over the 25 survivors.
    top = pairs.orderBy(
        F.desc("c_pair"), F.asc("pa"), F.asc("pb")
    ).limit(25)
    # no broadcast hint: per_part is |parts| rows (unbounded); AQE picks
    enriched = (
        top.join(
            per_part.withColumnRenamed("pk", "pa").withColumnRenamed(
                "c_part", "c_a"
            ),
            "pa",
        )
        .join(
            per_part.withColumnRenamed("pk", "pb").withColumnRenamed(
                "c_part", "c_b"
            ),
            "pb",
        )
        .crossJoin(F.broadcast(n))
    )
    m = 1_000_000
    return (
        enriched.select(
            "pa",
            "pb",
            "c_pair",
            "c_a",
            "c_b",
            F.expr(f"c_pair * {m} div n_orders").alias("support_micro"),
            F.expr(f"c_pair * {m} div c_a").alias("conf_a_to_b"),
            F.expr(f"c_pair * {m} div c_b").alias("conf_b_to_a"),
            F.expr(
                # DECIMAL(38,0): c_pair·N·10⁶ can pass 2⁶³ once baskets
                # reach web scale; the DuckDB twin runs it in HUGEINT
                f"CAST(c_pair AS DECIMAL(38,0)) * n_orders * {m}"
                " div CAST(c_a * c_b AS DECIMAL(38,0))"
            ).alias("lift_micro"),
        )
        .orderBy(F.desc("c_pair"), F.asc("pa"), F.asc("pb"))
    )


@query("""
            WITH spend AS (
                SELECT o_custkey,
                       SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                           AS s
                FROM orders GROUP BY o_custkey
            ),
            cum AS (
                SELECT o_custkey, s,
                       SUM(s) OVER (ORDER BY s DESC, o_custkey ASC)
                           AS cum_s,
                       ROW_NUMBER() OVER (ORDER BY s DESC, o_custkey ASC)
                           AS rk
                FROM spend
            ),
            tot AS (SELECT SUM(s) AS tot FROM spend),
            th AS (SELECT UNNEST([50, 80, 90, 99]) AS pct)
            SELECT CAST(pct AS BIGINT) AS pct,
                   CAST(MIN(rk) AS BIGINT) AS customers_needed,
                   CAST(ARG_MIN(cum_s, rk) AS BIGINT) AS covered_cents
            FROM cum, tot, th
            WHERE cum_s * 100 >= pct * tot
            GROUP BY pct ORDER BY pct
        """)
def q_revenue_coverage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p revenue coverage: how many customers does it take to cover
    50% / 80% / 90% / 99% of total spend — THE whale-census number
    behind every "top N customers drive X%" slide, and the discrete
    companion to lorenz_deciles (that one fixes population deciles and
    reports share; this fixes the share and reports the head count).
    Exact integers end-to-end: spend in cents, customers ordered by
    (spend DESC, custkey ASC) via the NEGATED-key _dist_cumsum
    (cutpoint-bucket + bounded carry, no single-partition window), and
    the coverage test is cum_cents·100 ≥ p·total_cents in BIGINT — no
    division at all. Output per threshold: (pct, customers_needed,
    covered_cents), pct-ordered; the count is the FIRST prefix
    crossing, i.e. MIN over qualifying prefix ranks."""
    o = _t(spark, sf_dir, "orders")
    spend = (
        o.groupBy("o_custkey")
        .agg(F.sum(_cents("o_totalprice")).alias("s"))
        .select("o_custkey", "s", (-F.col("s")).alias("__ns"))
        # four consumers (quantiles, cumsum offsets, rank offsets, join)
        # — materialize the per-customer aggregate once
        .localCheckpoint(eager=False)
    )
    cuts = spend.stat.approxQuantile(
        "__ns", [i / 8 for i in range(1, 8)], 0.001
    )
    # one census + one pass: rank rides the cumsum, deleting the
    # second census collect AND the cum⋈rank re-join (guide §1.2)
    j = _dist_cumsum(
        spend,
        "__ns",
        "o_custkey",
        ["s"],
        [float(c) for c in cuts],
        rank_out="rk",
    )
    total = spend.agg(F.sum("s").alias("tot"))
    th = spark.createDataFrame([(50,), (80,), (90,), (99,)], "pct int")
    hits = (
        j.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(th))
        .filter(F.col("cum_s") * 100 >= F.col("pct") * F.col("tot"))
        .groupBy("pct")
        .agg(
            F.min("rk").alias("customers_needed"),
            F.min_by("cum_s", "rk").alias("covered_cents"),
        )
    )
    return hits.select(
        F.col("pct").cast("long").alias("pct"),
        "customers_needed",
        "covered_cents",
    ).orderBy("pct")


@query("""
            WITH td AS (
                SELECT event_type,
                       CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d,
                       COUNT(*) AS x
                FROM events GROUP BY 1, 2
            ),
            span AS (SELECT MAX(d) - MIN(d) + 1 AS n FROM td),
            per_t AS (
                SELECT event_type, CAST(SUM(x) AS BIGINT) AS s,
                       SUM(CAST(x AS HUGEINT) * x) AS q
                FROM td GROUP BY 1
            ),
            cm AS (
                SELECT a.event_type AS type_a, b.event_type AS type_b,
                       SUM(CAST(a.x AS HUGEINT) * b.x) AS p
                FROM td a JOIN td b
                  ON a.d = b.d AND a.event_type < b.event_type
                GROUP BY 1, 2
            )
            SELECT type_a, type_b, CAST(n AS BIGINT) AS n_days,
                   CAST(n * p - CAST(pa.s AS HUGEINT) * pb.s AS DOUBLE)
                       AS num,
                   CASE WHEN n * pa.q = CAST(pa.s AS HUGEINT) * pa.s
                          OR n * pb.q = CAST(pb.s AS HUGEINT) * pb.s
                        THEN CAST(0 AS BIGINT)
                        ELSE CAST(FLOOR(
                            CAST(n * p - CAST(pa.s AS HUGEINT) * pb.s
                                 AS DOUBLE)
                          / SQRT(CAST(n * pa.q
                                      - CAST(pa.s AS HUGEINT) * pa.s
                                      AS DOUBLE)
                               * CAST(n * pb.q
                                      - CAST(pb.s AS HUGEINT) * pb.s
                                      AS DOUBLE))
                          * 1000000 + 0.5) AS BIGINT) END AS r_micro
            FROM cm
            JOIN per_t pa ON pa.event_type = cm.type_a
            JOIN per_t pb ON pb.event_type = cm.type_b
            CROSS JOIN span
            ORDER BY type_a, type_b
        """)
def q_activity_correlation_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise Pearson correlation matrix of the per-event-type DAILY
    count series — the signal-coupling panel (do errors spike with
    logins? do purchases track clicks?) every ops/growth dashboard
    keeps, and the multivariate companion to acf (self-coupling) and
    welch/mann-whitney (two-group location). Series live on the
    calendar-day grid with missing days = 0, WITHOUT materializing the
    grid (the acf trick): zero days add nothing to Σx, Σx², or Σxy, so
    only n = calendar length enters the moments. Everything exact:
    per-type Σx / DECIMAL-accumulated Σx² from one (type, day) table,
    cross-moments Σx_a·x_b from its day-keyed self-join (per-day rows
    are bounded by |event types|, so the self-join is day-grain-sized),
    num and the two variance terms emitted as correctly-rounded
    DOUBLEs of exact integers, r_micro = ONE IEEE expression per pair.
    Output: (type_a, type_b, n_days, num, r_micro) for a < b,
    pair-ordered."""
    ev = _t(spark, sf_dir, "events")
    td = (
        ev.select(
            "event_type",
            F.floor(_epoch_sec("ts") / 86400).cast("long").alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint(eager=False)
    )
    span = td.agg(
        (F.max("d") - F.min("d") + 1).alias("n")
    )
    per_t = td.groupBy("event_type").agg(
        F.sum("x").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("q"),
    )
    a = td.select(
        F.col("event_type").alias("type_a"), "d", F.col("x").alias("xa")
    )
    b = td.select(
        F.col("event_type").alias("type_b"), "d", F.col("x").alias("xb")
    )
    cross = (
        a.join(b, "d")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(
                F.col("xa").cast("decimal(38,0)") * F.col("xb")
            ).alias("p")
        )
    )
    pa = per_t.select(
        F.col("event_type").alias("type_a"),
        F.col("s").alias("sa"),
        F.col("q").alias("qa"),
    )
    pb = per_t.select(
        F.col("event_type").alias("type_b"),
        F.col("s").alias("sb"),
        F.col("q").alias("qb"),
    )
    j = (
        cross.join(pa, "type_a")
        .join(pb, "type_b")
        .crossJoin(F.broadcast(span))
    )
    return j.select(
        "type_a",
        "type_b",
        F.col("n").alias("n_days"),
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * p"
            " - CAST(sa AS DECIMAL(38,0)) * sb AS DOUBLE)"
        ).alias("num"),
        F.expr(
            "CASE WHEN CAST(n AS DECIMAL(38,0)) * qa"
            "        = CAST(sa AS DECIMAL(38,0)) * sa"
            "     OR CAST(n AS DECIMAL(38,0)) * qb"
            "        = CAST(sb AS DECIMAL(38,0)) * sb"
            " THEN CAST(0 AS BIGINT)"
            " ELSE CAST(FLOOR("
            "   CAST(CAST(n AS DECIMAL(38,0)) * p"
            "        - CAST(sa AS DECIMAL(38,0)) * sb AS DOUBLE)"
            " / SQRT(CAST(CAST(n AS DECIMAL(38,0)) * qa"
            "             - CAST(sa AS DECIMAL(38,0)) * sa AS DOUBLE)"
            "      * CAST(CAST(n AS DECIMAL(38,0)) * qb"
            "             - CAST(sb AS DECIMAL(38,0)) * sb AS DOUBLE))"
            " * 1000000 + 0.5) AS BIGINT) END"
        ).alias("r_micro"),
    ).orderBy("type_a", "type_b")


@query("""
            WITH spend AS (
                SELECT c.c_mktsegment, o.o_custkey,
                       SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                           AS s
                FROM orders o
                JOIN customer c ON o.o_custkey = c.c_custkey
                GROUP BY c.c_mktsegment, o.o_custkey
            ),
            seg AS (
                SELECT c_mktsegment AS segment,
                       COUNT(*) AS customers,
                       CAST(SUM(s) AS BIGINT) AS total_cents,
                       SUM(CAST(s AS HUGEINT) * s) AS ss2,
                       MAX(s) AS smax
                FROM spend GROUP BY c_mktsegment
            )
            SELECT segment, customers, total_cents,
                   CAST(CAST(smax AS HUGEINT) * 1000000
                        // CAST(total_cents AS HUGEINT) AS BIGINT)
                       AS top_share_micro,
                   CAST(ss2 * 1000000 // (CAST(total_cents AS HUGEINT)
                        * total_cents) AS BIGINT) AS hhi_micro
            FROM seg ORDER BY segment
        """)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of customer spend
    within each market segment — THE concentration number an analyst
    computes before trusting a segment aggregate (HHI → 10⁶ means one
    whale owns the segment; → 10⁶/k means k equal customers). Exact
    integer construction: spend in cents (BIGINT), per-customer shares
    squared as HHI = Σ s_i² / S² computed in DECIMAL(38,0) — customer
    spend² at web scale passes 2⁶³ — and hhi_micro = the integer
    DIV of 10⁶·Σ s_i² by S² (both exact decimals; the DuckDB twin
    runs HUGEINT). Shape: one (segment, customer) aggregate, one
    segment aggregate — two map-side-combining shuffles on bounded
    keys, no windows, no joins beyond the broadcast-able customer dim
    at the front. Output per segment: customers, total_cents,
    top_share_micro (largest single share) and hhi_micro."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    spend = (
        o.select("o_custkey", _cents("o_totalprice").alias("cents"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum("cents").alias("s"))
    )
    seg = spend.groupBy("c_mktsegment").agg(
        F.count("*").alias("customers"),
        F.sum("s").alias("total_cents"),
        F.sum(F.col("s").cast("decimal(38,0)") * F.col("s")).alias("ss2"),
        F.max("s").alias("smax"),
    )
    return seg.select(
        F.col("c_mktsegment").alias("segment"),
        "customers",
        "total_cents",
        F.expr(
            "CAST(CAST(smax AS DECIMAL(38,0)) * 1000000"
            " div CAST(total_cents AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("top_share_micro"),
        F.expr(
            "CAST(ss2 * 1000000 div (CAST(total_cents AS DECIMAL(38,0))"
            " * total_cents) AS BIGINT)"
        ).alias("hhi_micro"),
    ).orderBy("segment")


def _bootstrap_sql(n_rep: int = 32) -> str:
    """DuckDB twin of q_bootstrap_ci_means: the same _POIS1_CUT
        integer cutoffs inlined, the same 60-bit md5-prefix uniform,
        the same split-identity integer mean — generated per replica
        the way the LSH-plane oracles inline their literals."""

    def u(b: int) -> str:
        return (
            f"CAST(('0x' || substring(md5(k || ':{b}'), 1, 15))"
            f"::UBIGINT AS BIGINT)"
        )

    def w(b: int) -> str:
        arms = " ".join(
            f"WHEN {u(b)} < {_POIS1_CUT[wt]} THEN {wt}"
            for wt in range(5)
        )
        return f"(CASE {arms} ELSE 5 END)"

    def mean(s: str, n: str) -> str:
        return (
            f"CAST(({s} // {n}) * 1000000"
            f" + (({s} % {n}) * 1000000) // {n} AS BIGINT)"
        )

    sums = ", ".join(
        f"CAST(SUM({w(b)} * cents) AS BIGINT) AS s{b}, "
        f"CAST(SUM({w(b)}) AS BIGINT) AS n{b}"
        for b in range(n_rep)
    )
    means = ", ".join(
        mean(f"s{b}", f"n{b}") for b in range(n_rep)
    )
    return f"""
            WITH o AS (
                SELECT CAST(o_orderkey AS VARCHAR) AS k,
                       CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
                FROM orders
            ), agg AS (
                SELECT COUNT(*) AS n_orders,
                       CAST(SUM(cents) AS BIGINT) AS tot,
                       {sums}
                FROM o
            ), m AS (
                SELECT n_orders, tot, list_sort([{means}]) AS ms
                FROM agg
            )
            SELECT n_orders,
                   {mean("tot", "n_orders")} AS point_mean_micro,
                   ms[2] AS ci_lo_micro,
                   ms[{n_rep - 1}] AS ci_hi_micro,
                   ms[{n_rep - 1}] - ms[2] AS ci_width_micro
            FROM m
        """
