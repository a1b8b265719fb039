"""Temporal queries: windows, sessions, as-of joins, gap filling,
funnels, rollups and time-series profiles over events."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.fsutil import (
    materialize,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    relational,
    rollup,
    temporal,
)

from catalog import query
from catalog._common import (
    _cents,
    _cents_avg,
    _cents_sum,
    _epoch_sec,
    _q,
    _sql_cents_avg,
    _sql_cents_sum,
    _sql_q,
    _t,
)
from catalog.stats import _dist_cumsum


@query("""
            SELECT date_trunc('day', ts) AS bucket, event_type,
                   COUNT(*) AS doc_count, {AVGV} AS avg_value
            FROM events GROUP BY 1, 2
        """)
def q_date_histogram_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: Kibana date-histogram + terms split."""
    ev = _t(spark, sf_dir, "events")
    return relational.date_histogram(
        ev,
        "ts",
        "day",
        keys=("event_type",),
        aggs=[
            F.count("*").alias("doc_count"),
            _cents_avg("value").alias("avg_value"),
        ],
    )


@query("""
            SELECT event_id, user_id, value,
                   LAG(value) OVER w AS prev_value,
                   value - LAG(value) OVER w AS delta
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        """)
def q_window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.5: per-key lag/delta (sensor rate-of-change shape)."""
    ev = _t(spark, sf_dir, "events")
    out = relational.lag_delta(
        ev, ["user_id"], "ts", "value", tiebreak="event_id"
    )
    return out.select("event_id", "user_id", "value", "prev_value", "delta")


@query("""
            SELECT user_id, event_id, event_type, value FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1
        """)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 batch twin: keyed last-write-wins (ES doc-id upsert semantics)."""
    ev = _t(spark, sf_dir, "events")
    out = relational.latest_per_key(ev, ["user_id"], "ts", tiebreak="event_id")
    return out.select("user_id", "event_id", "event_type", "value")


@query("""
            WITH g AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER w IS NULL
                              OR epoch(ts) - LAG(epoch(ts)) OVER w > 1800.0
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            ), s AS (
                SELECT user_id, ts,
                       CAST(SUM(is_new) OVER (PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                FROM g
            )
            SELECT user_id, session_id, COUNT(*) AS n,
                   date_trunc('second', MIN(ts)) AS session_start,
                   date_trunc('second', MAX(ts)) AS session_end
            FROM s GROUP BY user_id, session_id
        """)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap + running sum (batch twin of session_window)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = _epoch_sec("ts") - F.lag(_epoch_sec("ts")).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # second-truncated bounds: oracle-stable vs the parquet's nanosecond
    # timestamps (Spark caps at micros; truncation commutes with min/max)
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n"),
        F.date_trunc("second", F.min("ts")).alias("session_start"),
        F.date_trunc("second", F.max("ts")).alias("session_end"),
    )


@query("""
            WITH clicks AS (
                SELECT user_id, ts, event_id FROM events
                WHERE event_type = 'click'
            ), purch AS (
                SELECT user_id, ts, event_id, value FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
                    FROM events WHERE event_type = 'purchase'
                ) WHERE rn = 1
            )
            SELECT c.user_id, c.event_id,
                   p.event_id AS purchase_event,
                   p.value AS purchase_value
            FROM clicks c ASOF LEFT JOIN purch p
              ON c.user_id = p.user_id AND c.ts >= p.ts
        """)
def q_asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY §2.3's named gap): each click attributed to the
    user's latest purchase at-or-before it. One shuffle on user_id via
    the union+window formulation in operators.temporal — no inequality
    join, no per-row range probe."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    # deterministic: one purchase per (user, ts), highest event_id wins
    purch = relational.latest_per_key(purch, ["user_id", "ts"], "event_id")
    out = temporal.asof_join(
        clicks, purch, ["user_id"], "ts", ["event_id", "value"], rsuffix="_p"
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("event_id_p").alias("purchase_event"),
        F.col("value_p").alias("purchase_value"),
    )


@query("""
            WITH obs AS (
                SELECT event_type, epoch(ts) AS t,
                       SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0
                           / COUNT(*) AS v
                FROM events GROUP BY 1, 2
            ),
            spine AS (
                SELECT event_type,
                       CAST(1704153600 + 3600 * h AS DOUBLE) AS t
                FROM (SELECT DISTINCT event_type FROM events),
                     (SELECT unnest(range(0, 24)) AS h)
            ),
            u AS (
                SELECT event_type, t, v, 1 AS is_obs FROM obs
                UNION ALL
                SELECT event_type, t, NULL, 0 FROM spine
            ),
            w AS (
                SELECT event_type, t, is_obs,
                    last_value(v IGNORE NULLS) OVER
                        (PARTITION BY event_type ORDER BY t ASC, is_obs DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS v0,
                    last_value(CASE WHEN is_obs = 1 THEN t END IGNORE NULLS)
                        OVER
                        (PARTITION BY event_type ORDER BY t ASC, is_obs DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS t0,
                    first_value(v IGNORE NULLS) OVER
                        (PARTITION BY event_type ORDER BY t ASC, is_obs DESC
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                        AS v1,
                    first_value(CASE WHEN is_obs = 1 THEN t END IGNORE NULLS)
                        OVER
                        (PARTITION BY event_type ORDER BY t ASC, is_obs DESC
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                        AS t1
                FROM u
            )
            SELECT event_type, CAST(t AS BIGINT) AS t,
                   FLOOR((CASE WHEN t0 = t THEN v0
                               WHEN t0 IS NOT NULL AND t1 IS NOT NULL
                               THEN v0 + (v1 - v0) * (t - t0) / (t1 - t0)
                          END) * 1000000 + 0.5) / 1000000.0 AS value_interp
            FROM w WHERE is_obs = 0
        """)
def q_interpolate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation onto a time spine (temporal.interpolate_
    linear): per event type, the value series resampled to an hourly
    grid over 2024-01-02 by time-weighting the two bracketing
    observations — the resampling step an irregular sensor feed needs
    before fusion, and the step up from LOCF. Observations are
    pre-aggregated to one row per (type, epoch) in exact integer cents
    so bracketing is tie-free; the DuckDB twin replays the same
    union + IGNORE NULLS window passes and the same float weight math
    bit-for-bit (epoch doubles are identical, so frac and the lerp
    are too; 6-dp floor-quantize absorbs nothing but formatting)."""
    ev = _t(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", _epoch_sec(F.col("ts")).alias("t")
    ).agg((F.sum(_cents("value")) / F.lit(100.0) / F.count(F.lit(1))).alias("v"))
    day0 = 1704153600  # 2024-01-02T00:00:00Z
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            spark.range(24).select(
                (F.lit(day0) + F.col("id") * 3600).cast("double").alias("t")
            )
        )
    )
    out = temporal.interpolate_linear(
        obs, spine, ["event_type"], ts_col="t", value_col="v"
    )
    return out.select(
        "event_type",
        F.col("t").cast("long").alias("t"),
        _q(F.col("value_interp"), 6).alias("value_interp"),
    )


@query(f"""
            SELECT date_trunc('minute', ts) AS minute, event_type,
                   COUNT(*) AS n,
                   {_sql_cents_sum("value")} AS value_sum
            FROM events GROUP BY 1, 2
        """)
def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate (operators.rollup): minute rollup served from
    a day-partitioned MATERIALIZED history plus a fresh-tail rollup over
    raw events beyond the watermark — the hypertable pattern where a
    query touches rolled-up parquet for all of history and raw data only
    for the newest day. The oracle is a plain full-table GROUP BY, so a
    hash match proves history ∪ tail is exactly the full rollup."""
    ev = _t(spark, sf_dir, "events")
    path = materialize(
        "cagg_minute", sf_dir, [f"{sf_dir}/events.parquet"], {},
        lambda p: rollup.ensure_materialized(spark, ev, p),
    )
    agg = rollup.ensure_materialized(spark, ev, path)
    return agg.select(
        "minute",
        "event_type",
        "n",
        _q(F.col("value_cents") / 100.0, 2).alias("value_sum"),
    )


@query(f"""
            WITH t AS (
                SELECT event_type, COUNT(*) AS doc_count
                FROM events GROUP BY event_type
                ORDER BY doc_count DESC, event_type ASC LIMIT 4
            ), m AS (
                SELECT COUNT(*) AS total_events,
                       {_sql_cents_sum("value")} AS total_value
                FROM events
            )
            SELECT * FROM t, m
        """)
def q_dashboard_terms_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other two panel kinds through the compiler: a terms panel
    (top-4 event types by count) cross-joined with the single-row metric
    panel (global totals) — both plans compiled from specs."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        dashboards,
    )

    ev = _t(spark, sf_dir, "events")
    terms = dashboards.build_panel(
        ev, {"kind": "terms", "key": "event_type", "k": 4}
    )
    metric = dashboards.build_panel(
        ev,
        {
            "kind": "metric",
            "metrics": {
                "total_events": F.count("*").alias("total_events"),
                "total_value": _cents_sum("value").alias("total_value"),
            },
        },
    )
    return terms.crossJoin(F.broadcast(metric))


@query(f"""
            SELECT event_id, user_id,
                   {_sql_q(
                       "AVG(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER ("
                       "PARTITION BY user_id ORDER BY ts, event_id "
                       "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) / 100.0",
                       4)} AS roll_avg
            FROM events
        """)
def q_rolling_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit window FRAME spec (§2.5 depth): per-user 5-row rolling
    mean over time-ordered events — ROWS BETWEEN 4 PRECEDING AND CURRENT
    ROW, cents-quantized for float parity."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        _q(F.avg(_cents("value")).over(w) / 100.0, 4).alias("roll_avg"),
    )


@query(f"""
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   {_sql_cents_avg("value")} AS avg_value,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2
        """)
def q_dashboard_hourly_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kibana-equivalent panel compiler under the gate: a date_histogram
    panel spec (hourly, split by event_type, avg+count metrics) compiles
    through operators.dashboards.build_panel to a DataFrame plan."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        dashboards,
    )

    ev = _t(spark, sf_dir, "events")
    panel = dashboards.build_panel(
        ev,
        {
            "kind": "date_histogram",
            "ts": "ts",
            "interval": "hour",
            "split": "event_type",
            "metrics": {
                "avg_value": _cents_avg("value").alias("avg_value"),
                "n": F.count("*").alias("n"),
            },
        },
    )
    return panel.select(
        F.col("bucket").alias("hour"),
        "event_type",
        F.col("avg_value").alias("avg_value"),
        "n",
    )


@query("""
            WITH t AS (
                SELECT user_id, event_type, event_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY user_id ORDER BY event_id
                       )
                     - ROW_NUMBER() OVER (
                           PARTITION BY user_id, event_type
                           ORDER BY event_id
                       ) AS grp
                FROM events
            )
            SELECT user_id, event_type, COUNT(*) AS run_len,
                   MIN(event_id) AS run_start, MAX(event_id) AS run_end
            FROM t GROUP BY user_id, event_type, grp
            HAVING COUNT(*) >= 3
        """)
def q_event_type_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (temporal.runs): maximal streaks of an unchanged
    event_type per user via the double-row_number island id — two window
    passes over one (user_id, event_id) shuffle, no self-join. Streaks
    of >= 3 only (the interesting tail)."""
    ev = _t(spark, sf_dir, "events")
    r = temporal.runs(ev, ["user_id"], "event_type", ["event_id"])
    return r.filter(F.col("run_len") >= 3).select(
        "user_id", "event_type", "run_len", "run_start", "run_end"
    )


@query(f"""
            SELECT event_id, user_id,
                   {_sql_q(
                       "COALESCE(LAST_VALUE("
                       "CASE WHEN event_type = 'purchase' THEN value END"
                       " IGNORE NULLS) OVER ("
                       "PARTITION BY user_id ORDER BY event_id "
                       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
                       "), 0.0)", 2)} AS last_purchase_value
            FROM events
        """)
def q_locf_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF gap-fill (temporal.locf): every event row annotated with the
    user's most recent purchase value at or before it — last(...,
    ignorenulls) over an unbounded-preceding window, one shuffle on
    user_id. The batch repair pass run before training-data export."""
    ev = _t(spark, sf_dir, "events")
    obs = ev.withColumn(
        "purchase_value",
        F.when(F.col("event_type") == "purchase", F.col("value")),
    )
    out = temporal.locf(
        obs, "purchase_value", ["user_id"], ["event_id"], out_col="lpv"
    )
    return out.select(
        "event_id",
        "user_id",
        _q(F.coalesce(F.col("lpv"), F.lit(0.0)), 2).alias("last_purchase_value"),
    )


@query("""
            WITH b AS (
                SELECT MIN(CAST(ts AS DATE)) AS lo,
                       MAX(CAST(ts AS DATE)) AS hi
                FROM events
            ), days AS (
                SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))
                            AS DATE) AS day
                FROM b
            ), dims AS (
                SELECT DISTINCT event_type FROM events
            ), counts AS (
                SELECT CAST(ts AS DATE) AS day, event_type,
                       COUNT(*) AS n
                FROM events GROUP BY 1, 2
            )
            SELECT CAST(d.day AS VARCHAR) AS day, dims.event_type,
                   COALESCE(c.n, 0) AS n
            FROM days d
            CROSS JOIN dims
            LEFT JOIN counts c
              ON c.day = d.day AND c.event_type = dims.event_type
        """)
def q_daily_spine_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense date-spine zero-fill (temporal.date_spine): daily event
    counts per type over the corpus's full [min_day, max_day] range,
    with missing (day, type) cells surfaced as explicit zeros — the
    date_histogram contract ES dashboards expect (empty buckets emitted,
    not dropped). Spine from a one-row min/max agg + sequence(), no
    driver collect."""
    ev = _t(spark, sf_dir, "events")
    dims = ev.select("event_type").distinct()
    counts = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    out = temporal.date_spine(ev, "ts", dims, counts)
    return out.select(
        F.col("day").cast("string").alias("day"),
        "event_type",
        F.coalesce("n", F.lit(0)).alias("n"),
    )


@query("""
            WITH basket AS (
                SELECT DISTINCT user_id,
                       date_trunc('minute', ts) AS m,
                       event_type
                FROM events
            )
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   COUNT(*) AS n_baskets
            FROM basket a
            JOIN basket b
              ON a.user_id = b.user_id AND a.m = b.m
             AND a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type
        """)
def q_event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence mining (market-basket shape): unordered event-type
    pairs seen within the same (user, minute) basket. Distinct-first
    bounds the self-join fanout to |types| per basket — the guard that
    keeps basket self-joins from going quadratic on hot baskets at
    100 TB."""
    ev = _t(spark, sf_dir, "events")
    basket = ev.select(
        "user_id",
        F.date_trunc("minute", "ts").alias("m"),
        "event_type",
    ).distinct()
    a = basket.alias("a")
    b = basket.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.m") == F.col("b.m"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    )
    return pairs.groupBy(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
    ).agg(F.count("*").alias("n_baskets"))


@query(f"""
            SELECT event_id, user_id,
                   COUNT(*) OVER w AS n_10m,
                   {_sql_q(
                       "SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) "
                       "OVER w / 100.0", 2)} AS spend_10m
            FROM events
            WINDOW w AS (
                PARTITION BY user_id ORDER BY epoch_ms(ts)
                RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW
            )
        """)
def q_range_frame_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame (the value-offset twin of the
    ROWS-frame rolling_avg_value): per user, count and spend over the
    trailing 10 real minutes at each event — peers at equal timestamps
    share the frame, which a ROWS frame cannot express. Ordered on
    integer epoch-millis so the frame bounds are exact."""
    ev = _t(spark, sf_dir, "events")
    e = ev.withColumn("ems", F.unix_millis(F.col("ts").cast("timestamp")))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ems")
        .rangeBetween(-600_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_10m"),
        _q(F.sum(_cents("value")).over(w) / 100.0, 2).alias("spend_10m"),
    )


@query("""
            WITH first AS (
                SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
                FROM events GROUP BY user_id
            ), active AS (
                SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events
            )
            SELECT CAST(f.cohort_day AS VARCHAR) AS cohort_day,
                   CAST(datediff('day', f.cohort_day, a.day) AS INT)
                       AS day_offset,
                   COUNT(DISTINCT a.user_id) AS n_users
            FROM active a JOIN first f USING (user_id)
            WHERE datediff('day', f.cohort_day, a.day) <= 7
            GROUP BY 1, 2
        """)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day, then
    distinct active users per (cohort, day-offset) for the first week.
    Two aggregations on user_id plus one join — all on the same key, so
    the exchanges line up; the distinct-first projection keeps the join
    input at one row per (user, day)."""
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    active = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    j = active.join(first, "user_id")
    return (
        j.select(
            "user_id",
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(f"""
            WITH daily AS (
                SELECT CAST(ts AS DATE) AS day,
                       {_sql_cents_sum("value")} AS total
                FROM events GROUP BY 1
            )
            SELECT CAST(day AS VARCHAR) AS day, total,
                   {_sql_q(
                       "(total - LAG(total) OVER (ORDER BY day)) "
                       "/ LAG(total) OVER (ORDER BY day) * 100.0", 4)}
                       AS pct_change
            FROM daily
        """)
def q_daily_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period delta: daily spend total with percent change
    vs the previous day. The lag window is global but runs over the
    POST-aggregation series (one row per day — tiny at any corpus
    scale); the heavy lifting is the map-side-combined daily sum."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        _cents_sum("value").alias("total")
    )
    w = Window.orderBy("day")
    prev = F.lag("total").over(w)
    return daily.select(
        F.col("day").cast("string").alias("day"),
        "total",
        _q((F.col("total") - prev) / prev * 100.0, 4).alias("pct_change"),
    )


@query(f"""
            WITH cnt AS (
                SELECT user_id, event_type, COUNT(*) AS n
                FROM events GROUP BY user_id, event_type
            ), agg AS (
                SELECT user_id,
                       CAST(SUM(n) AS BIGINT) AS n_events,
                       CAST(SUM(n * n) AS BIGINT) AS sumsq
                FROM cnt GROUP BY user_id
            )
            SELECT user_id, n_events,
                   {_sql_q(
                       "1.0 - CAST(sumsq AS DOUBLE) "
                       "/ CAST(n_events * n_events AS DOUBLE)", 6)}
                       AS diversity
            FROM agg
        """)
def q_user_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity score (bot/spam screen for corpus
    curation): Gini-Simpson index 1 - Σpᵢ² of each user's event-type
    distribution. Chosen over Shannon entropy deliberately: Σnᵢ² and N
    are exact integer aggregates, so the index is ONE double division —
    bit-identical across engines — where ln() differs in the last ulp
    between libms and can flip a quantization tick."""
    ev = _t(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    agg = cnt.groupBy("user_id").agg(
        F.sum("n").alias("n_events"),
        F.sum(F.col("n") * F.col("n")).alias("sumsq"),
    )
    n = F.col("n_events")
    div = F.lit(1.0) - F.col("sumsq").cast("double") / (n * n).cast("double")
    return agg.select("user_id", "n_events", _q(div, 6).alias("diversity"))


@query("""
            WITH first10 AS (
                SELECT user_id, event_id, event_type,
                       ROW_NUMBER() OVER (
                           PARTITION BY user_id ORDER BY event_id
                       ) AS rn
                FROM events
            )
            SELECT user_id,
                   CAST(COUNT(*) AS INT) AS n,
                   string_agg(event_type, '>' ORDER BY event_id) AS path
            FROM first10 WHERE rn <= 10
            GROUP BY user_id
        """)
def q_user_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (the clickstream 'path' feature): each
    user's first 10 event types joined in event order. collect_list has
    NO ordering guarantee under parallel aggregation — the correct
    pattern is collect structs, array_sort on the embedded sort key,
    then project+join; the oracle is DuckDB's string_agg(... ORDER BY),
    so any ordering leak fails the hash."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    first10 = ev.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 10
    )
    collected = first10.groupBy("user_id").agg(
        F.collect_list(F.struct("event_id", "event_type")).alias("evs")
    )
    path = F.array_join(
        F.transform(F.array_sort("evs"), lambda x: x.event_type), ">"
    )
    return collected.select(
        "user_id", F.size("evs").alias("n"), path.alias("path")
    )


@query("""
            WITH v AS (
                SELECT user_id, MIN(ts) AS first_view
                FROM events
                WHERE event_type = 'view' AND user_id IS NOT NULL
                GROUP BY user_id
            ), c AS (
                SELECT e.user_id, MIN(e.ts) AS first_click
                FROM events e JOIN v ON e.user_id = v.user_id
                WHERE e.event_type = 'click'
                  AND e.ts >= v.first_view
                  AND e.ts <= v.first_view + INTERVAL 24 HOUR
                GROUP BY e.user_id
            ), p AS (
                SELECT e.user_id, MIN(e.ts) AS first_purchase
                FROM events e JOIN c ON e.user_id = c.user_id
                WHERE e.event_type = 'purchase'
                  AND e.ts >= c.first_click
                  AND e.ts <= c.first_click + INTERVAL 24 HOUR
                GROUP BY e.user_id
            )
            SELECT v.user_id, v.first_view, c.first_click, p.first_purchase
            FROM v
            LEFT JOIN c ON v.user_id = c.user_id
            LEFT JOIN p ON v.user_id = p.user_id
        """)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel with per-stage time bounds: first view → first
    click within 24h of it → first purchase within 24h of that. Three
    keyed aggregations, each joined back on user_id — at scale each
    stage is one shuffle on the funnel key, and stages shrink
    monotonically so later joins are cheap (and broadcast-eligible)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    day = F.expr("INTERVAL 24 HOURS")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") >= F.col("first_view"))
            & (F.col("ts") <= F.col("first_view") + day)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") >= F.col("first_click"))
            & (F.col("ts") <= F.col("first_click") + day)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "first_view", "first_click", "first_purchase")
    )


@query(f"""
            WITH um AS (
                SELECT DISTINCT date_trunc('day', ts) AS m, user_id
                FROM events
            ),
            marked AS (
                SELECT a.m, a.user_id,
                       (b.user_id IS NOT NULL) AS retained
                FROM um a
                LEFT JOIN um b
                  ON b.m = a.m + INTERVAL 1 DAY AND b.user_id = a.user_id
            ),
            agg AS (
                SELECT m,
                       COUNT(*) AS active_users,
                       CAST(SUM(CASE WHEN retained THEN 0 ELSE 1 END)
                            AS BIGINT) AS churned
                FROM marked GROUP BY 1
            )
            SELECT m AS day,
                   active_users,
                   churned,
                   CAST(active_users - churned AS BIGINT) AS retained,
                   {_sql_q("CAST(churned AS DOUBLE) / active_users", 6)}
                       AS churn_rate
            FROM agg
            WHERE m < (SELECT MAX(m) FROM um)
            ORDER BY day
        """)
def q_daily_churn_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period churn from the event stream: for each day d,
    how many of its active users are absent on d+1 (churned), beside
    the retained count and the exact churn ratio — the
    subscription-health twin of the cohort-retention triangle (daily
    grain because the synthetic corpus spans weeks, not years; the
    operator is grain-agnostic). One distinct (user, day) frame
    self-joined against the next day; both sides are day-keyed
    aggregates, so the join carries active-user sets, not events."""
    ev = _t(spark, sf_dir, "events")
    um = ev.select(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("m"),
        "user_id",
    ).distinct()
    nxt = um.select(
        (F.col("m") - F.expr("INTERVAL 1 DAY")).alias("m"),
        F.col("user_id").alias("u2"),
    )
    marked = um.join(
        nxt, (um.m == nxt.m) & (um.user_id == nxt.u2), "left"
    ).select(um.m.alias("m"), um.user_id, "u2")
    months = um.select("m").distinct()
    last = months.agg(F.max("m").alias("last_m"))
    return (
        marked.groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum(F.when(F.col("u2").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("churned"),
        )
        .crossJoin(F.broadcast(last))
        # the final month has no next month: churn there is undefined,
        # not 100%
        .filter(F.col("m") < F.col("last_m"))
        .select(
            # timestamp (midnight), NOT date: a DATE column round-trips
            # as python objects vs DuckDB datetime64 and breaks the
            # driver's value-hash on representation (dtype audit, r6) —
            # every driver-green time bucket in the catalog is timestamp
            F.col("m").alias("day"),
            "active_users",
            "churned",
            (F.col("active_users") - F.col("churned")).alias("retained"),
            _q(F.col("churned") / F.col("active_users"), 6).alias(
                "churn_rate"
            ),
        )
        .orderBy("day")
    )


@query(f"""
            WITH seg AS (
                SELECT user_id, date_trunc('day', ts) AS day,
                       CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
                       epoch_us(ts) AS t0,
                       epoch_us(LEAD(ts) OVER (
                           PARTITION BY user_id, CAST(ts AS DATE)
                           ORDER BY ts ASC, event_id ASC
                       )) AS t1
                FROM events
            )
            SELECT user_id, day,
                   COUNT(*) AS n_segments,
                   {_sql_q(
                       "SUM(cents * (t1 - t0)) / SUM(t1 - t0) / 100.0", 4
                   )} AS twap
            FROM seg
            WHERE t1 IS NOT NULL
            GROUP BY 1, 2
            HAVING SUM(t1 - t0) > 0
        """)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (user, day) — the TimescaleDB
    time_weight operator class: irregular samples weighted by how long
    each value was current (LOCF segments between consecutive events).
    Integer discipline throughout: durations are exact epoch-second
    longs, values quantize to cents before multiplying, so the
    numerator/denominator sums are exact BIGINTs and the single final
    division is IEEE-identical in any engine. One window pass + one
    aggregation, both keyed on (user, day)."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    day = F.to_date(F.col("ts")).alias("day")
    w = W.partitionBy("user_id", "day").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    seg = (
        ev.select(
            "user_id", day, "ts", "event_id",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        .withColumn("nxt", F.lead("ts").over(w))
        .filter(F.col("nxt").isNotNull())
        .withColumn(
            # exact integer MICROSECONDS (the corpus has sub-second
            # timestamps; second-granularity epochs would round
            # differently across engines)
            "dur",
            F.unix_micros(F.col("nxt").cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp")),
        )
    )
    agg = seg.groupBy("user_id", "day").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.col("cents") * F.col("dur")).alias("num"),
        F.sum("dur").alias("den"),
    )
    return (
        agg.filter(F.col("den") > 0)
        .select(
            "user_id",
            # timestamp (midnight), not DATE: date columns round-trip as
            # python objects vs the oracle's datetime64 and break the
            # value-hash on representation (dtype audit, r6)
            F.col("day").cast("timestamp").alias("day"),
            "n_segments",
            _q(F.col("num") / F.col("den") / 100.0, 4).alias("twap"),
        )
    )


@query(f"""
            WITH pr AS (
                SELECT LAG(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC
                       ) AS from_type,
                       event_type AS to_type
                FROM events
            ),
            cnt AS (
                SELECT from_type, to_type,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM pr WHERE from_type IS NOT NULL
                GROUP BY 1, 2
            )
            SELECT from_type, to_type, n,
                   {_sql_q(
                       "CAST(n AS DOUBLE)"
                       " / SUM(n) OVER (PARTITION BY from_type)", 6
                   )} AS p
            FROM cnt ORDER BY from_type, to_type
        """)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral Markov chain: P(next event type | current)
    from consecutive events in each user's time-ordered stream — the
    transition matrix behind next-action prediction, funnel design,
    and synthetic-stream QA (a generator is validated by matching this
    matrix). Exact integer transition counts; the row-stochastic
    probability is ONE IEEE division of them micro-quantized, so the
    matrix hash-matches cross-engine. Shape: one lag window per user
    (user-partitioned — no global sort) + one (from, to) count; the
    matrix is |types|² rows however large the stream."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("to_type"),
            F.lag("event_type").over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wrow = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        _q(
            F.col("n").cast("double") / F.sum("n").over(wrow), 6
        ).alias("p"),
    ).orderBy("from_type", "to_type")


@query("""
            WITH fc AS (
                SELECT user_id,
                       CAST(FLOOR(MIN(epoch(ts))) AS BIGINT) AS ft_sec
                FROM events WHERE event_type = 'click'
                GROUP BY 1
            ),
            p AS (
                SELECT user_id, event_id,
                       CAST(FLOOR(epoch(ts)) AS BIGINT) AS p_sec,
                       CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
                FROM events WHERE event_type = 'purchase'
            )
            SELECT p.user_id, p.event_id,
                   CASE WHEN fc.ft_sec <= p.p_sec THEN fc.ft_sec END
                       AS first_touch_sec,
                   CASE WHEN fc.ft_sec <= p.p_sec
                        THEN p.p_sec - fc.ft_sec END AS secs_to_convert,
                   p.cents
            FROM p LEFT JOIN fc USING (user_id)
            ORDER BY event_id
        """)
def q_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-touch attribution — the complement of the as-of (last-
    touch) model: every purchase credits the user's EARLIEST click at
    or before it, the acquisition-channel convention where last-touch
    is the conversion-channel one. Shape: the first touch per user is
    one min() aggregate (no window over events), broadcast back against
    purchases — at 100 TB this is an aggregate + a user-keyed join,
    strictly cheaper than the as-of union+window. Integer epoch-second
    time-to-convert; purchases before any click stay NULL-attributed
    (LEFT join: unattributed conversions are a real cohort, not
    droppable rows)."""
    ev = _t(spark, sf_dir, "events")
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min(_epoch_sec(F.col("ts")).cast("long")).alias("ft_sec"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        _epoch_sec(F.col("ts")).cast("long").alias("p_sec"),
        _cents("value").alias("cents"),
    )
    return (
        purchases.join(first_click, "user_id", "left")
        .select(
            "user_id",
            "event_id",
            F.when(
                F.col("ft_sec") <= F.col("p_sec"), F.col("ft_sec")
            ).alias("first_touch_sec"),
            F.when(
                F.col("ft_sec") <= F.col("p_sec"),
                F.col("p_sec") - F.col("ft_sec"),
            ).alias("secs_to_convert"),
            "cents",
        )
        .orderBy("event_id")
    )


@query("""
            WITH pm AS (
                SELECT event_type,
                       date_trunc('minute', ts) AS minute,
                       CAST(COUNT(*) AS BIGINT) AS c
                FROM events GROUP BY 1, 2
            ), tr AS (
                SELECT event_type, minute, c,
                       CAST(COUNT(*) OVER w AS BIGINT) AS wn,
                       CAST(SUM(c) OVER w AS BIGINT) AS s,
                       CAST(SUM(c * c) OVER w AS BIGINT) AS q
                FROM pm
                WINDOW w AS (
                    PARTITION BY event_type ORDER BY minute
                    ROWS BETWEEN 60 PRECEDING AND 1 PRECEDING
                )
            )
            SELECT event_type, minute, c, wn, s
            FROM tr
            WHERE wn = 60
              AND (wn * c - s) > 0
              AND (wn * c - s) * (wn * c - s) > 9 * (wn * q - s * s)
            ORDER BY event_type, minute
        """)
def q_burst_detection_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series burst detection: a minute is a BURST for an event
    type when its event count exceeds the trailing hour's mean by 3
    trailing standard deviations — the rate-spike monitor beside the
    global z-score gate (outlier_events_zscore), with the same
    zero-float-boundary construction: over the w preceding minutes
    (ROWS BETWEEN 60 PRECEDING AND 1 PRECEDING — the current minute
    never contaminates its own baseline), the verdict is the exact
    integer inequality (w·c − S)² > 9·(w·Q − S²) with S=Σcounts,
    Q=Σcounts² as BIGINT window sums (counts are small; the squares
    stay far under 2⁶³ at any minute-grain rate), evaluated only where
    the trailing window is fully populated and c > mean (spikes, not
    droughts). One minute-grain aggregate + one window pass, both
    keyed on event_type."""
    ev = _t(spark, sf_dir, "events")
    per_min = ev.groupBy(
        "event_type",
        F.date_trunc("minute", F.col("ts").cast("timestamp")).alias(
            "minute"
        ),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("minute")
        .rowsBetween(-60, -1)
    )
    trail = per_min.select(
        "event_type",
        "minute",
        "c",
        F.count(F.lit(1)).over(w).alias("wn"),
        F.sum("c").over(w).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("q"),
    )
    dev = F.col("wn") * F.col("c") - F.col("s")
    nvar = F.col("wn") * F.col("q") - F.col("s") * F.col("s")
    return (
        trail.filter(
            (F.col("wn") == 60)
            & (dev > 0)
            & (dev * dev > 9 * nvar)
        )
        .select("event_type", "minute", "c", "wn", "s")
        .orderBy("event_type", "minute")
    )


@query(f"""
            WITH base AS (
                SELECT event_type,
                       date_trunc('minute', ts) AS minute,
                       ts, event_id,
                       CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
                FROM events
            ),
            marked AS (
                SELECT *,
                       row_number() OVER (
                           PARTITION BY event_type, minute
                           ORDER BY ts ASC, event_id ASC) AS rn_a,
                       row_number() OVER (
                           PARTITION BY event_type, minute
                           ORDER BY ts DESC, event_id DESC) AS rn_d
                FROM base
            )
            SELECT event_type, minute,
                   COUNT(*) AS n,
                   {_sql_q(
                       "MAX(CASE WHEN rn_a = 1 THEN cents END) / 100.0", 2
                   )} AS open,
                   {_sql_q("MAX(cents) / 100.0", 2)} AS high,
                   {_sql_q("MIN(cents) / 100.0", 2)} AS low,
                   {_sql_q(
                       "MAX(CASE WHEN rn_d = 1 THEN cents END) / 100.0", 2
                   )} AS close
            FROM marked
            GROUP BY 1, 2
        """)
def q_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick downsampling per (event_type, minute) — the
    time-series rendering staple (a dashboard can't plot every raw
    point; open/high/low/close preserves the envelope and endpoints of
    each bucket). First/last are made deterministic with ascending and
    descending row_numbers tie-broken on event_id, values quantize to
    cents, and everything reduces in one grouped aggregation after two
    bucket-partitioned window passes — no single-partition window, no
    order-dependent FIRST()."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    minute = F.date_trunc("minute", F.col("ts")).alias("minute")
    base = ev.select(
        "event_type", minute, "ts", "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    wa = W.partitionBy("event_type", "minute").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    wd = W.partitionBy("event_type", "minute").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    marked = base.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    agg = marked.groupBy("event_type", "minute").agg(
        F.count("*").alias("n"),
        F.max(F.when(F.col("rn_a") == 1, F.col("cents"))).alias("o"),
        F.max("cents").alias("h"),
        F.min("cents").alias("l"),
        F.max(F.when(F.col("rn_d") == 1, F.col("cents"))).alias("c"),
    )
    return agg.select(
        "event_type",
        "minute",
        "n",
        _q(F.col("o") / 100.0, 2).alias("open"),
        _q(F.col("h") / 100.0, 2).alias("high"),
        _q(F.col("l") / 100.0, 2).alias("low"),
        _q(F.col("c") / 100.0, 2).alias("close"),
    )


@query("""
            WITH clicks AS (
                SELECT user_id, ts, event_id FROM events
                WHERE event_type = 'click'
            ), purch AS (
                SELECT user_id, ts, event_id, value FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
                    FROM events WHERE event_type = 'purchase'
                ) WHERE rn = 1
            )
            SELECT c.user_id, c.event_id,
                   p.event_id AS next_purchase_event,
                   p.value AS next_purchase_value
            FROM clicks c ASOF LEFT JOIN purch p
              ON c.user_id = p.user_id AND c.ts <= p.ts
        """)
def q_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (temporal.asof_join_forward): each click
    matched to the user's NEXT purchase at-or-after it — time-to-
    convert analysis, the mirror of asof_purchase_attribution's
    backward lookup. Same union+window scale shape (one shuffle on
    user_id, no inequality join); DuckDB's ASOF LEFT JOIN with a <=
    condition is the oracle."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    purch = relational.latest_per_key(purch, ["user_id", "ts"], "event_id")
    out = temporal.asof_join_forward(
        clicks, purch, ["user_id"], "ts", ["event_id", "value"], rsuffix="_p"
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("event_id_p").alias("next_purchase_event"),
        F.col("value_p").alias("next_purchase_value"),
    )


@query("""
            WITH m AS (
                SELECT event_type, date_trunc('minute', ts) AS minute,
                       COUNT(*) AS x
                FROM events GROUP BY 1, 2
            ), t AS (
                SELECT event_type, COUNT(*) AS n, SUM(x) AS tot
                FROM m GROUP BY 1
            ), d AS (
                SELECT m.event_type, minute,
                       n * x - tot - n AS dev, n
                FROM m JOIN t USING (event_type)
            ), c AS (
                SELECT *, SUM(dev) OVER (PARTITION BY event_type
                            ORDER BY minute
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum
                FROM d
            ), s AS (
                SELECT *,
                       cum - least(0, MIN(cum) OVER (
                           PARTITION BY event_type ORDER BY minute
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)) AS su
                FROM c
            ), best AS (
                SELECT *, row_number() OVER (
                           PARTITION BY event_type
                           ORDER BY su DESC, minute ASC) AS rk
                FROM s
            )
            SELECT event_type,
                   CAST(n AS BIGINT) AS n_minutes,
                   CAST(su AS BIGINT) AS max_s_units,
                   CAST(su // n * 1000000
                        + su % n * 1000000 // n AS BIGINT)
                       AS max_s_micro,
                   minute AS peak_minute
            FROM best WHERE rk = 1 ORDER BY event_type
        """)
def q_cusum_drift_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift monitor (Page 1954 — the sequential test behind
    industrial change detection; burst_detection_minutes catches
    SPIKES against a trailing window, CUSUM catches the slow
    persistent drift a spike detector never sees): per event type over
    its minute-count series, S_t = max(0, S_{t−1} + (x_t − μ − λ)).
    The recursion LOOKS unexpressible in SQL, but the classical
    identity S_t = C_t − min_{j≤t} C_j (C = cumulative deviations)
    folds it into two PARTITIONED window passes — a per-type cumsum
    and a per-type running min — so the whole monitor is one plan with
    no recursion and no single-partition window (partitions are event
    types; rows per partition are bounded by the TIME GRAIN, the
    hypertable/burst precedent). Integer-exact: deviations scale by
    n_minutes (n·x_t − T − n·λ with λ = 1 event/minute allowance), so
    μ never becomes a float. Output per type: the drift SUPREMUM in
    n-scaled units and micro-events, the minute it peaked (earliest
    tie), and the series length — ≈0 supremum == stationary, which is
    itself the finding on this corpus; the oracle proves the identity
    machinery either way."""
    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy(
        "event_type",
        F.date_trunc("minute", F.col("ts").cast("timestamp")).alias(
            "minute"
        ),
    ).agg(F.count(F.lit(1)).alias("x"))
    t = m.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("tot")
    )
    d = m.join(t, "event_type").withColumn(
        "dev",
        F.col("n") * F.col("x") - F.col("tot") - F.col("n"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the running min INCLUDES the current row and folds in C_0 = 0
    # (the least(0, ·)): S_t = C_t − min_{0≤j≤t} C_j is the classical
    # reflection identity for max(0, S_{t−1} + d_t) and is ≥ 0 by
    # construction — an exclusive frame would let S go negative on a
    # first-step drop
    s = (
        d.withColumn("cum", F.sum("dev").over(wc))
        .withColumn(
            "su",
            F.col("cum")
            - F.least(F.lit(0).cast("long"), F.min("cum").over(wc)),
        )
    )
    wbest = Window.partitionBy("event_type").orderBy(
        F.desc("su"), F.asc("minute")
    )
    return (
        s.withColumn("__rk", F.row_number().over(wbest))
        .filter(F.col("__rk") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_minutes"),
            F.col("su").alias("max_s_units"),
            F.expr(
                "max_s_units DIV n * 1000000"
                " + max_s_units % n * 1000000 DIV n"
            ).alias("max_s_micro"),
            F.col("minute").alias("peak_minute"),
        )
        .orderBy("event_type")
    )


@query("""
            WITH g AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER w IS NULL
                              OR epoch(ts) - LAG(epoch(ts)) OVER w > 1800.0
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC,
                             event_id ASC)
            ), s AS (
                SELECT user_id,
                       CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
                       SUM(is_new) OVER (PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM g
            ), sess AS (
                SELECT user_id, sid,
                       MIN(sec) AS s_sec, MAX(sec) AS e_sec
                FROM s GROUP BY user_id, sid
            ), b AS (
                SELECT s_sec * 2 AS key, 1 AS delta FROM sess
                UNION ALL
                SELECT e_sec * 2 + 1, -1 FROM sess
            ), c AS (
                SELECT key, delta,
                       SUM(delta) OVER (ORDER BY key
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum
                FROM b
            ), t AS (
                SELECT MAX(cum) AS peak,
                       CAST(COUNT(*) / 2 AS BIGINT) AS n_sessions
                FROM c
            )
            SELECT n_sessions,
                   CAST(peak AS BIGINT) AS peak_concurrent,
                   CAST(MIN(key) / 2 AS BIGINT) AS peak_second
            FROM c, t WHERE cum = peak
            GROUP BY n_sessions, peak
        """)
def q_session_concurrency_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Peak-load census over the sessionized stream: how many user
    sessions were simultaneously open at the busiest moment — the
    classic sweep-line (+1 at session start, −1 after session end,
    running sum = concurrency), which at corpus scale is a GLOBAL
    ordered prefix sum and therefore runs through _dist_cumsum
    (cutpoint buckets + bounded offset carry, no single-partition
    window). Sessions are the sessionize_events construction (1800 s
    gap). Order determinism without a global sort: the sweep key is
    sec·2 + phase (starts before ends within a second, so
    back-to-back sessions at the same boundary second count as
    overlapping — closed intervals); within one (second, phase) all
    deltas share a sign, so the running max is invariant to intra-tie
    order and the peak + its earliest second are exact. Output: one
    row — n_sessions, peak_concurrent, peak_second (epoch)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = _epoch_sec("ts") - F.lag(_epoch_sec("ts")).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0)
    sess = (
        ev.withColumn(
            "session_id",
            F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min(_epoch_sec("ts").cast("long")).alias("s_sec"),
            F.max(_epoch_sec("ts").cast("long")).alias("e_sec"),
        )
    )
    bounds = sess.select(
        (F.col("s_sec") * 2).alias("key"),
        "user_id",
        F.lit(1).cast("long").alias("delta"),
    ).unionByName(
        sess.select(
            (F.col("e_sec") * 2 + 1).alias("key"),
            "user_id",
            F.lit(-1).cast("long").alias("delta"),
        )
    ).localCheckpoint(eager=False)
    # ^ materialized once: approxQuantile, the _dist_cumsum offset
    # fetch, the peak aggregate, and the final read each re-ran the
    # events scan + sessionization window without it (guide §1.2).
    cuts = [
        float(c)
        for c in bounds.stat.approxQuantile(
            "key", [i / 8 for i in range(1, 8)], 0.001
        )
    ]
    cum = _dist_cumsum(bounds, "key", "user_id", ["delta"], cuts).localCheckpoint(
        eager=False
    )
    # ^ materialized once (r16, guide §1.2): cum feeds BOTH the peak/
    # count broadcast aggregate and the final filtered read — without
    # this the bucketed cumsum pass over `bounds` ran twice (bounds is
    # checkpointed, so the 2× was the shuffle+window, ~2·|sessions| rows)
    tot = cum.agg(
        F.max("cum_delta").alias("__peak"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_sessions"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum_delta") == F.col("__peak"))
        .groupBy("n_sessions", F.col("__peak").alias("peak_concurrent"))
        .agg((F.min("key") / 2).cast("long").alias("peak_second"))
        .select("n_sessions", "peak_concurrent", "peak_second")
    )


@query("""
            WITH m AS MATERIALIZED (
                SELECT CAST(FLOOR(epoch(ts) / 60) AS BIGINT) AS idx,
                       COUNT(*) AS x
                FROM events GROUP BY 1
            ),
            scal AS (
                SELECT CAST(MAX(idx) - MIN(idx) + 1 AS HUGEINT) AS n,
                       CAST(SUM(x) AS HUGEINT) AS t,
                       SUM(CAST(x AS HUGEINT) * x) AS sxx,
                       MIN(idx) AS lo, MAX(idx) AS hi
                FROM m
            ),
            lags AS (SELECT UNNEST(generate_series(1, 10)) AS lag),
            pairs AS (
                SELECT l.lag, SUM(CAST(a.x AS HUGEINT) * b.x) AS p
                FROM m a CROSS JOIN lags l
                JOIN m b ON b.idx = a.idx + l.lag
                GROUP BY 1
            ),
            tails AS (
                SELECT l.lag,
                       CAST(SUM(CASE WHEN m.idx > s.hi - l.lag
                                     THEN m.x ELSE 0 END) AS HUGEINT)
                           AS tail_a,
                       CAST(SUM(CASE WHEN m.idx < s.lo + l.lag
                                     THEN m.x ELSE 0 END) AS HUGEINT)
                           AS tail_b
                FROM m CROSS JOIN lags l CROSS JOIN scal s
                GROUP BY 1
            ),
            o AS (
                SELECT l.lag,
                       CAST(s.n - l.lag AS BIGINT) AS n_pairs,
                       CAST(s.n * s.n * COALESCE(p.p, 0)
                            - s.n * s.t
                              * (2 * s.t - COALESCE(t.tail_a, 0)
                                 - COALESCE(t.tail_b, 0))
                            + (s.n - l.lag) * s.t * s.t AS DOUBLE) AS num,
                       CAST(s.n * s.n * s.sxx - s.n * s.t * s.t AS DOUBLE)
                           AS den
                FROM lags l
                LEFT JOIN pairs p ON l.lag = p.lag
                LEFT JOIN tails t ON l.lag = t.lag
                CROSS JOIN scal s
            )
            SELECT lag, n_pairs, num, den,
                   CASE WHEN den = 0.0 THEN CAST(0 AS BIGINT)
                        ELSE CAST(FLOOR(num / den * 1000000) AS BIGINT)
                   END AS r_micro
            FROM o ORDER BY lag
        """)
def q_acf_minute_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the per-minute global event-count
    series at lags 1..10 — THE first diagnostic a time-series pipeline
    runs (seasonality shows as peaks at the period, burstiness as slow
    decay, white noise as ≈0 everywhere), complementing
    burst_detection_minutes (spikes) and cusum_drift_profile (drift).
    The series is the CALENDAR minute grid [min_minute, max_minute]
    with unobserved minutes counting 0 — and the whole computation
    runs WITHOUT materializing the grid: zero-count minutes contribute
    nothing to Σx_t·x_{t+k} (product has a zero factor) and enter the
    centered moments only through closed-form boundary corrections, so
    r_k = num_k/den with
      num_k = n²·P_k − n·T·(A_k + B_k) + (n−k)·T²
      den   = n²·Sxx − n·T²
    where P_k = Σ x_t·x_{t+k} over OBSERVED pairs, A_k/B_k = T minus
    the observed mass in the last/first k calendar minutes, all exact
    integers (deviations are n-scaled, the cusum trick, so the mean
    never becomes a float). EVERY product and sum that can leave
    BIGINT runs in DECIMAL(38,0) from the first multiply — P_k and
    Sxx accumulate as DECIMAL, never as a BIGINT sum that would throw
    under ANSI once per-minute counts ~10⁷ × n ~10⁶ push P past 2⁶³
    — and the DuckDB twin mirrors with HUGEINT. num/den (~n²·P, up
    to ~10³⁴ ≪ 10³⁸) are emitted as the correctly-rounded DOUBLE of
    the exact decimal value: both engines round the SAME integer, so
    the doubles are bit-identical and hash-stable. r_micro is ONE
    floor-quantized IEEE division per lag (the assortativity
    contract). Shape: the observed-minute table is
    TIME-GRAIN-bounded (the hypertable/burst/cusum precedent, rows =
    minutes not events); the pair term is a minute-idx-keyed self-join
    fanned ×10 by a broadcast lag dimension; everything else is one
    scalar aggregate. Output: (lag, n_pairs, num, den, r_micro),
    lag-ordered."""
    ev = _t(spark, sf_dir, "events")
    m = (
        ev.select(
            F.floor(_epoch_sec("ts") / 60).cast("long").alias("idx")
        )
        .groupBy("idx")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    scal = m.agg(
        (F.max("idx") - F.min("idx") + 1).alias("n"),
        F.sum("x").alias("t"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.min("idx").alias("lo"),
        F.max("idx").alias("hi"),
    )
    lags = spark.range(1, 11).select(F.col("id").cast("long").alias("lag"))
    pairs = (
        m.crossJoin(F.broadcast(lags))
        .select("lag", (F.col("idx") + F.col("lag")).alias("jidx"), F.col("x").alias("xa"))
        .join(m.select(F.col("idx").alias("jidx"), F.col("x").alias("xb")), "jidx")
        .groupBy("lag")
        .agg(F.sum(F.col("xa").cast("decimal(38,0)") * F.col("xb")).alias("p"))
    )
    tails = (
        m.crossJoin(F.broadcast(lags))
        .crossJoin(F.broadcast(scal))
        .groupBy("lag")
        .agg(
            F.sum(
                F.when(F.col("idx") > F.col("hi") - F.col("lag"), F.col("x")).otherwise(F.lit(0))
            ).alias("tail_a"),
            F.sum(
                F.when(F.col("idx") < F.col("lo") + F.col("lag"), F.col("x")).otherwise(F.lit(0))
            ).alias("tail_b"),
        )
    )
    out = (
        lags.join(pairs, "lag", "left")
        .join(tails, "lag", "left")
        .crossJoin(F.broadcast(scal))
        .select(
            "lag",
            (F.col("n") - F.col("lag")).alias("n_pairs"),
            F.expr(
                "CAST(CAST(n AS DECIMAL(38,0)) * n * COALESCE(p, 0)"
                " - CAST(n AS DECIMAL(38,0)) * t"
                "   * (2 * t - COALESCE(tail_a, 0) - COALESCE(tail_b, 0))"
                " + CAST(n - lag AS DECIMAL(38,0)) * t * t AS DOUBLE)"
            ).alias("num"),
            F.expr(
                "CAST(CAST(n AS DECIMAL(38,0)) * n * sxx"
                " - CAST(n AS DECIMAL(38,0)) * t * t AS DOUBLE)"
            ).alias("den"),
        )
        .withColumn(
            "r_micro",
            F.expr(
                "CASE WHEN den = 0.0 THEN CAST(0 AS BIGINT)"
                " ELSE CAST(FLOOR(num / den * 1000000) AS BIGINT) END"
            ),
        )
        .orderBy("lag")
    )
    return out


@query("""
            WITH s AS (
                SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS s FROM events
            ),
            hour AS (
                SELECT 'hour' AS dim, s // 3600 % 24 AS slot,
                       COUNT(*) AS n_events
                FROM s GROUP BY 2
            ),
            dow AS (
                SELECT 'dow' AS dim, (s // 86400 + 4) % 7 AS slot,
                       COUNT(*) AS n_events
                FROM s GROUP BY 2
            ),
            hd AS (SELECT * FROM hour UNION ALL SELECT * FROM dow),
            tot AS (SELECT SUM(n_events) AS tot FROM hd
                    WHERE dim = 'hour')
            SELECT dim, slot, n_events,
                   CAST(n_events * 1000000 // tot AS BIGINT) AS share_micro,
                   CAST(n_events
                        * (CASE WHEN dim = 'hour' THEN 24 ELSE 7 END)
                        * 1000000 // tot AS BIGINT) AS index_micro
            FROM hd CROSS JOIN tot
            ORDER BY dim, slot
        """)
def q_calendar_seasonality_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calendar seasonality profile of the event stream: the
    hour-of-day (24 slots) and day-of-week (7 slots) activity
    distributions with each slot's share of total traffic and its
    index against a flat baseline (10⁶ = exactly uniform) — what a
    capacity planner or a dashboard's "busiest hours" panel computes,
    and the descriptive companion to acf_minute_counts (ACF detects
    the period, this names it). Engine-portability: BOTH slots derive
    from integer epoch arithmetic — hour = epoch_sec div 3600 mod 24,
    dow = (epoch_sec div 86400 + 4) mod 7 with 0 = Sunday (1970-01-01
    was a Thursday) — never from calendar functions, because Spark's
    dayofweek is 1=Sunday while DuckDB's dow is 0=Sunday; the integer
    form is identical everywhere and exact. share/index are integer
    micro-units via DIV. Shape: two map-side classifiable aggregates
    over events (31 output rows), no joins, no windows — trivially
    100 TB-safe. Output: (dim, slot, n_events, share_micro,
    index_micro), dim/slot-ordered."""
    ev = _t(spark, sf_dir, "events")
    slots = ev.select(
        F.floor(_epoch_sec("ts")).cast("long").alias("s")
    ).select(
        F.expr("s div 3600 % 24").alias("hour_slot"),
        F.expr("(s div 86400 + 4) % 7").alias("dow_slot"),
    )
    hour = slots.groupBy(F.col("hour_slot").alias("slot")).agg(
        F.count(F.lit(1)).alias("n_events")
    ).select(F.lit("hour").alias("dim"), "slot", "n_events")
    dow = slots.groupBy(F.col("dow_slot").alias("slot")).agg(
        F.count(F.lit(1)).alias("n_events")
    ).select(F.lit("dow").alias("dim"), "slot", "n_events")
    both = hour.unionByName(dow)
    tot = both.filter(F.col("dim") == "hour").agg(
        F.sum("n_events").alias("tot")
    )
    return (
        both.crossJoin(F.broadcast(tot))
        .select(
            "dim",
            "slot",
            "n_events",
            F.expr("n_events * 1000000 div tot").alias("share_micro"),
            F.expr(
                "n_events * (CASE WHEN dim = 'hour' THEN 24 ELSE 7 END)"
                " * 1000000 div tot"
            ).alias("index_micro"),
        )
        .orderBy("dim", "slot")
    )


@query("""
            WITH per_h AS (
                SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS h,
                       COUNT(*) AS x
                FROM events GROUP BY 1
            ),
            span AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM per_h),
            grid AS (
                SELECT UNNEST(generate_series(lo, hi)) AS h FROM span
            ),
            filled AS (
                SELECT g.h, COALESCE(p.x, 0) AS x
                FROM grid g LEFT JOIN per_h p ON p.h = g.h
            ),
            scored AS (
                SELECT a.x - b.x AS e
                FROM filled a JOIN filled b ON a.h = b.h + 24
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
                   CAST(SUM(ABS(e)) AS BIGINT) AS sum_abs_err,
                   CAST(SUM(ABS(e)) * 1000000 // COUNT(*) AS BIGINT)
                       AS mae_micro,
                   CAST(FLOOR(SQRT(
                       CAST(SUM(CAST(e AS HUGEINT) * e) AS DOUBLE)
                       / COUNT(*)) * 1000000 + 0.5) AS BIGINT)
                       AS rmse_micro
            FROM scored
        """)
def q_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation over the hourly event-count
    series: predict count(t) = count(t − 24 h) and score it — THE
    baseline every capacity/forecast model must beat before it ships
    (Hyndman & Athanasopoulos, fpp3 §5.2), and the eval-side companion
    to acf/calendar (those detect seasonality; this measures how much
    of the signal the seasonal repeat already explains). The series is
    the CALENDAR hour grid with unobserved hours = 0 — built
    explicitly via spark.range over the span, which is TIME-GRAIN-
    bounded (hours in the corpus window; at 100 TB still thousands of
    rows — the hypertable/burst contract), so the lag join never
    silently skips empty hours. Exact integers: counts are BIGINT,
    |err| sums exact, mae_micro = Σ|e|·10⁶ DIV n; the squared-error
    sum runs in DECIMAL(38,0) (HUGEINT twin) and rmse_micro is the
    single IEEE sqrt of the exact mean, floor-quantized. Output: one
    row (n_hours, sum_abs_err, mae_micro, rmse_micro)."""
    ev = _t(spark, sf_dir, "events")
    per_h = ev.select(
        F.floor(_epoch_sec("ts") / 3600).cast("long").alias("h")
    ).groupBy("h").agg(F.count(F.lit(1)).alias("x"))
    span = per_h.agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    ).collect()[0]
    lo, hi = int(span["lo"]), int(span["hi"])
    grid = spark.range(lo, hi + 1).select(F.col("id").alias("h"))
    filled = grid.join(per_h, "h", "left").select(
        "h", F.coalesce("x", F.lit(0)).alias("x")
    )
    pred = filled.select(
        (F.col("h") + 24).alias("h"), F.col("x").alias("p")
    )
    scored = (
        filled.join(pred, "h")
        .select((F.col("x") - F.col("p")).alias("e"))
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.abs("e")).alias("sum_abs_err"),
        F.expr("SUM(ABS(e)) * 1000000 div COUNT(1)").alias("mae_micro"),
        F.expr(
            "CAST(FLOOR(SQRT(CAST(SUM(CAST(e AS DECIMAL(38,0)) * e)"
            " AS DOUBLE) / COUNT(1)) * 1000000 + 0.5) AS BIGINT)"
        ).alias("rmse_micro"),
    )
