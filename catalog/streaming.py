"""Streaming queries run to completion over staged file streams:
windows, sessions, stream joins, dedup and custom state."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    sketches,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources import (
    readers,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.streaming import pipeline as streaming

from catalog import query
from catalog._common import _cents, _epoch_sec, _q, _t


#: process-lifetime cache of staged file-stream dirs, keyed by
#: (sf_dir, table, sentinel kind, source mtime+size). Staging is
#: symlinks + (for watermark kinds) one 1-2 row sentinel parquet —
#: read-only once built, so every streaming query and every bench
#: repetition of one can share a dir. The source-stat component keys
#: out a mid-process testdata regeneration (the r02 failure class:
#: a stale sentinel computed from the OLD corpus max would silently
#: mis-watermark the new one). Dirs are removed at interpreter exit.
_STAGE_CACHE: dict[tuple, tuple[str, object, str]] = {}


def _sentinel_rows(kind: str, sentinel_ts) -> list[dict]:
    if kind == "wm1":
        return [
            {"event_id": -1, "ts": sentinel_ts, "user_id": -1,
             "event_type": "__wm__", "value": 0.0, "props": None}
        ]
    if kind == "wm2":
        # both sides of a stream-stream join must advance: the global
        # watermark is the MIN across sides; impossible user ids keep
        # the sentinels from matching or emitting
        return [
            {"event_id": -1, "ts": sentinel_ts, "user_id": -1,
             "event_type": "click", "value": 0.0, "props": None},
            {"event_id": -2, "ts": sentinel_ts, "user_id": -2,
             "event_type": "purchase", "value": 0.0, "props": None},
        ]
    raise ValueError(f"unknown sentinel kind: {kind!r}")


def _staged_events_dir(
    spark: SparkSession, sf_dir: str, kind: str = "plain", table: str = "events"
) -> tuple[str, object]:
    """Shared file-stream staging (r9, VERDICT r8 #4): returns
    (stage_dir, batch_schema) for a symlink dir over
    `{sf_dir}/{table}.parquet`, with an in-band far-future watermark
    sentinel appended for kind 'wm1' (single __wm__ row) or 'wm2'
    (click+purchase pair). Two costs disappear vs per-query staging:
    the dir builds ONCE per process (bench runs every streaming query
    3×), and the sentinel is written by PYARROW, not a Spark job — a
    2-row coalesce(1) parquet write measured a consistent 5-6s of
    committer/job overhead on local[32] vs 22ms through pyarrow; the
    file source only ever reads it back under the explicit
    batch_schema, so writer identity is irrelevant. The sentinel's
    mtime stamps strictly after the data (oldest-first ordering
    invariant) and its event time sits 10h past corpus max."""
    import atexit
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = f"{sf_dir}/{table}.parquet"
    st = os.stat(src)
    key = (sf_dir, table, kind, int(st.st_mtime), st.st_size)
    hit = _STAGE_CACHE.get(key)
    if hit is not None and os.path.isdir(hit[0]):
        return hit
    stage = tempfile.mkdtemp(prefix=f"stream_{table}_{kind}_")
    atexit.register(shutil.rmtree, stage, ignore_errors=True)
    data_mtime = _stage_stream_files(stage, src, table)
    batch = spark.read.parquet(src)
    batch_schema = batch.schema
    if kind != "plain":
        import datetime as _dt

        max_ts = batch.agg(F.max("ts")).collect()[0][0]
        rows = _sentinel_rows(kind, max_ts + _dt.timedelta(hours=10))
        tbl = pa.table(
            {
                "event_id": pa.array(
                    [r["event_id"] for r in rows], pa.int64()
                ),
                "ts": pa.array([r["ts"] for r in rows], pa.timestamp("us")),
                "user_id": pa.array(
                    [r["user_id"] for r in rows], pa.int64()
                ),
                "event_type": pa.array(
                    [r["event_type"] for r in rows], pa.string()
                ),
                "value": pa.array([r["value"] for r in rows], pa.float64()),
                "props": pa.array([r["props"] for r in rows], pa.string()),
            }
        )
        sent_path = os.path.join(stage, "zz_wm.parquet")
        pq.write_table(tbl, sent_path)
        # mtime strictly after the staged data so the file source
        # (oldest-first) can never batch the sentinel ahead of it
        os.utime(sent_path, (data_mtime + 3600, data_mtime + 3600))
    entry = (stage, batch_schema)
    _STAGE_CACHE[key] = entry
    return entry


def _stage_stream_files(stage: str, src: str, name: str) -> float:
    """Symlink a parquet table into a file-stream staging dir as FLAT
    files. The file source does NOT recurse into nested directories
    (measured: a directory-shaped table streams zero rows, silently),
    so a Spark-written table (directory of part files) links file by
    file while a single-file table links once. Returns the newest
    source mtime so callers can stamp sentinel files strictly after
    the data."""
    newest = 0.0
    if os.path.isdir(src):
        n = 0
        for f in sorted(os.listdir(src)):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                tgt = os.path.join(src, f)
                os.symlink(tgt, os.path.join(stage, f"{name}_{n}.parquet"))
                newest = max(newest, os.stat(tgt).st_mtime)
                n += 1
        if n == 0:
            raise ValueError(f"no parquet part files under {src}")
    else:
        os.symlink(src, os.path.join(stage, f"{name}.parquet"))
        newest = os.stat(src).st_mtime
    return newest


def _run_event_stream_query(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build,
    output_mode: str = "complete",
    kind: str = "plain",
) -> DataFrame:
    """Drive a streaming query over the events table as a file stream.

    Fixed-name memory sink (prior incarnation stopped & dropped per
    call) and a process-shared staging dir (_staged_events_dir, with
    the watermark sentinel `kind`), so repeated runs in one process
    don't accumulate tables or temp dirs and don't re-stage. `build`
    maps the typed stream → streaming DataFrame.
    """
    # stop any prior incarnation + drop its table before re-registering
    for active in spark.streams.active:
        if active.name == name:
            active.stop()
    spark.catalog.dropTempView(name)

    # session-independence: the same UTC pin read_table sets
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    # stateful streaming allocates one state-store partition per shuffle
    # partition, fixed at query start — a vanilla session's default of 200
    # pays 200 store inits per stateful op. Scope a sane count to this
    # query and restore the caller's setting after.
    prior_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # 8 measured fastest at bench scale (state-store init dominates a
        # bounded replay: 1.3s vs 1.8s at 32). Size this ≈ micro-batch
        # volume / healthy-partition size in production, not per-core.
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        stage, batch_schema = _staged_events_dir(spark, sf_dir, kind=kind)
        stream = readers.file_stream(spark, stage, batch_schema)
        # normalize ts (TIMESTAMP_NTZ in the file) to TIMESTAMP (LTZ,
        # session=UTC)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        q = streaming.run_to_memory(build(stream), name, output_mode=output_mode)
        q.stop()
        # memory sink holds the rows; the staging dir stays cached
        return spark.table(name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior_parts)


@query("""
            SELECT date_trunc('minute', ts) AS event_ts_min, event_type,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2
        """)
def q_streaming_minute_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming windowed agg driven to completion over the
    events parquet as a file stream; complete mode → equals batch group-by."""

    def build(stream):
        return (
            stream.groupBy(F.window("ts", "1 minute").alias("win"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(F.col("win.start").alias("event_ts_min"), "event_type", "n")
        )

    return _run_event_stream_query(spark, sf_dir, "stream_minute_counts_mem", build)


@query("""
            WITH g AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER w IS NULL
                              OR epoch(ts) - LAG(epoch(ts)) OVER w >= 1800.0
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            ), s AS (
                SELECT user_id, ts,
                       CAST(SUM(is_new) OVER (PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
                FROM g
            )
            SELECT user_id,
                   date_trunc('second', MIN(ts)) AS session_start,
                   date_trunc('second', MAX(ts)) + INTERVAL 30 MINUTE
                       AS session_end,
                   COUNT(*) AS n
            FROM s GROUP BY user_id, sid
        """)
def q_streaming_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 stateful session windows (session_window, Spark 3.2+) driven to
    completion — oracle-checkable because a session window's bounds are
    deterministic: [min ts, max ts + gap) per burst, new session when the
    inter-event gap is >= the window gap."""

    def build(stream):
        return (
            stream.groupBy(
                F.session_window("ts", "30 minutes").alias("sw"), "user_id"
            )
            .agg(F.count("*").alias("n"))
            .select(
                "user_id",
                F.date_trunc("second", F.col("sw.start")).alias("session_start"),
                F.date_trunc("second", F.col("sw.end")).alias("session_end"),
                "n",
            )
        )

    return _run_event_stream_query(spark, sf_dir, "stream_session_mem", build)


@query("""
            WITH l AS (
                SELECT user_id,
                       list(value ORDER BY ts, event_id) AS vs,
                       COUNT(*) AS n_seen
                FROM events GROUP BY user_id
            )
            SELECT user_id,
                   FLOOR(list_reduce(vs, (acc, x) -> 0.7 * acc + 0.3 * x)
                         * 1000000 + 0.5) / 1000000.0 AS ewma,
                   n_seen
            FROM l
        """)
def q_streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) under the oracle
    gate: per-user EWMA (alpha=0.3, seeded with the first value) over the
    event stream in update mode. The closed-form vectorized batch update
    equals a sequential fold, which DuckDB reproduces with list_reduce
    over the ts-ordered values; output floor-quantized to 1e-6."""

    def build(stream):
        return streaming.ewma_view(stream, "user_id", "ts", "value", alpha=0.3)

    out = _run_event_stream_query(
        spark, sf_dir, "stream_ewma_mem", build, output_mode="update"
    )
    return out.select("user_id", _q(F.col("ewma"), 6).alias("ewma"), "n_seen")


@query("""
            WITH g AS (
                SELECT event_type,
                       CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT) AS g5
                FROM events
            ), w AS (
                SELECT event_type,
                       CAST(to_timestamp(g5) AS TIMESTAMP) AS win_start FROM g
                UNION ALL
                SELECT event_type,
                       CAST(to_timestamp(g5 - 300) AS TIMESTAMP) AS win_start
                FROM g
            )
            SELECT win_start, event_type, COUNT(*) AS n
            FROM w GROUP BY 1, 2
        """)
def q_streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 sliding windows (10-minute window, 5-minute slide): every event
    lands in exactly two overlapping windows. Oracle: explode each event
    to its two candidate window starts (5-minute grid, and that minus
    5 minutes) and group — deterministic, engine-independent."""

    def build(stream):
        return (
            stream.groupBy(
                F.window("ts", "10 minutes", "5 minutes").alias("win"),
                "event_type",
            )
            .agg(F.count("*").alias("n"))
            .select(F.col("win.start").alias("win_start"), "event_type", "n")
        )

    return _run_event_stream_query(spark, sf_dir, "stream_sliding_mem", build)


@query("""
            SELECT c.c_mktsegment,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT))
                        AS BIGINT) AS value_cents
            FROM events e
            LEFT JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY c.c_mktsegment
        """)
def q_streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 stream-static enrichment: the event stream joins a broadcast
    static customer dimension per micro-batch (map-side, the unbounded
    side never shuffles), then aggregates per market segment. Complete
    mode → equals the batch left-join + group-by the oracle runs."""
    dim = (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )

    def build(stream):
        enriched = streaming.stream_static_enrich(stream, dim, "user_id")
        return enriched.groupBy("c_mktsegment").agg(
            F.count("*").alias("n_events"),
            F.sum(_cents("value")).alias("value_cents"),
        )

    return _run_event_stream_query(spark, sf_dir, "stream_enriched_mem", build)


@query("""
            SELECT e.event_id AS purchase_id, c.event_id AS click_id,
                   e.user_id AS user_id
            FROM events e JOIN events c
              ON e.user_id = c.user_id
             AND e.event_type = 'purchase' AND c.event_type = 'click'
             AND c.ts BETWEEN e.ts - INTERVAL 30 MINUTE AND e.ts
        """)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (the hardest Structured Streaming join
    tier): purchases joined to same-user clicks in the preceding 30
    minutes, both sides watermarked so join state is bounded — at scale
    the watermark is what keeps 100 TB of history out of the state store.
    Inner interval joins emit eagerly per micro-batch, so a bounded
    replay equals the batch self-join the oracle runs.
    """

    def build(stream):
        purchases = stream.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        clicks = stream.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        joined = purchases.withWatermark("p_ts", "2 hours").join(
            clicks.withWatermark("c_ts", "2 hours"),
            F.expr(
                "p_user = c_user AND "
                "c_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"
            ),
        )
        return joined.select(
            "purchase_id", "click_id", F.col("p_user").alias("user_id")
        )

    return _run_event_stream_query(
        spark, sf_dir, "stream_interval_join_mem", build, output_mode="append"
    )


@query("""
            SELECT DISTINCT user_id, event_type FROM events
        """)
def q_streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicates on a business key — the
    streaming twin of exact_dedup_docs, emitting exactly the DISTINCT
    key set (projecting the keys afterward makes it order-independent).
    State honesty: global streaming DISTINCT keeps one state row per
    distinct key FOREVER — a watermark does NOT evict dropDuplicates
    state unless the event-time column is part of the dedup keys
    (including it would change the semantics to per-timestamp dedup).
    That state is bounded by key cardinality, not stream length, which
    is the correct contract for this query; when re-emission beyond a
    horizon is acceptable, Spark's dropDuplicatesWithinWatermark is the
    state-EVICTING variant."""

    def build(stream):
        return (
            stream.withWatermark("ts", "24 hours")
            .dropDuplicates(["user_id", "event_type"])
            .select("user_id", "event_type")
        )

    return _run_event_stream_query(
        spark, sf_dir, "stream_dedup_mem", build, output_mode="append"
    )


@query("""
            WITH v AS (
                SELECT CAST(FLOOR(epoch(ts) / 600) * 600 AS BIGINT) AS w10,
                       event_type,
                       CAST(ROUND(value * 100, 0) AS BIGINT) AS v
                FROM events
            ),
            b AS (
                SELECT w10, event_type,
                       length(printf('%b', v)) * 8
                       + ((v >> greatest(length(printf('%b', v)) - 4, 0)) & 7)
                           AS bucket,
                       COUNT(*) AS n
                FROM v WHERE v >= 1 GROUP BY 1, 2, 3
            ),
            cum AS (
                SELECT w10, event_type, bucket, n,
                       SUM(n) OVER (PARTITION BY w10, event_type
                                    ORDER BY bucket) AS cumn
                FROM b
            ),
            tot AS (SELECT w10, event_type, CAST(SUM(n) AS BIGINT) AS n_total
                    FROM b GROUP BY 1, 2),
            qs AS (SELECT UNNEST([500, 900]) AS q_mille),
            r AS (
                SELECT w10, event_type, q_mille, n_total,
                       MIN(bucket) AS bucket
                FROM cum JOIN tot USING (w10, event_type) CROSS JOIN qs
                WHERE cumn >= (q_mille * n_total + 999) // 1000
                GROUP BY 1, 2, 3, 4
            )
            SELECT w10, event_type,
                   q_mille / 1000.0 AS q,
                   n_total,
                   CAST(CASE WHEN bucket // 8 <= 3 THEN bucket % 8
                        ELSE ((bucket % 8) + 8) << (bucket // 8 - 4)
                        END AS BIGINT) AS est_cents
            FROM r
            ORDER BY w10, event_type, q
        """)
def q_streaming_window_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming percentiles with BOUNDED state: the log-bucket
    quantile sketch maintained per (10-minute window, event_type) as a
    Structured-Streaming aggregation driven to completion — state is
    ≤512 bucket counters per group however many events a window holds,
    where exact streaming percentiles would buffer every value. The
    quantile walk runs batch-side over the drained grid (window
    functions aren't streamable; the sketch aggregation is). p50/p90 of
    positive value cents; the engine-exact integer bucketing means the
    DuckDB twin replays the identical grid AND walk — an oracled
    streaming approximate-percentile, which engine-native
    approx_percentile state can never be."""

    def build(stream):
        vals = stream.select(
            (F.floor(_epoch_sec(F.col("ts")) / 600) * 600)
            .cast("long")
            .alias("w10"),
            "event_type",
            _cents("value").alias("v"),
        )
        return sketches.logbucket_build(vals, ["w10", "event_type"], "v")

    grid = _run_event_stream_query(
        spark, sf_dir, "stream_lb_quantiles_mem", build
    )
    # break lineage off the memory-sink view: the quantile walk self-
    # joins the grid (cumsum side ⋈ totals side), and two derivations
    # of one MemoryPlan view trip Spark's conflicting-reference check.
    # The grid is sketch-bounded (≤512 rows per group), so an eager
    # localCheckpoint is a few KB of executor memory, not a spill.
    grid = grid.localCheckpoint(eager=True)
    est = sketches.logbucket_quantile(grid, ["w10", "event_type"], [0.5, 0.9])
    return est.select(
        "w10",
        "event_type",
        "q",
        "n_total",
        F.col("est").alias("est_cents"),
    ).orderBy("w10", "event_type", "q")


@query(r"""
            WITH w AS (
                SELECT string_split_regex(lower(trim(text)), '\s+')
                           AS words
                FROM documents
            ), chpos AS (
                SELECT words,
                       UNNEST(generate_series(
                           0,
                           CAST(greatest(ceil(len(words) / 20.0), 1)
                                AS BIGINT) - 1)) AS pos
                FROM w
            ), ch AS (
                SELECT array_to_string(
                           list_slice(words,
                                      CAST(pos * 20 + 1 AS BIGINT),
                                      CAST(pos * 20 + 20 AS BIGINT)),
                           ' ') AS passage
                FROM chpos
            )
            SELECT DISTINCT md5(passage) AS fp,
                   CAST(CASE WHEN passage = '' THEN 0
                             ELSE len(string_split(passage, ' '))
                        END AS BIGINT) AS n_words
            FROM ch ORDER BY fp
        """)
def q_streaming_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the passage-level dedup (passage_dedup_stats):
    documents arrive as a file stream, each explodes into its 20-word
    passages map-side, and a stateful dropDuplicates on the passage
    fingerprint emits each DISTINCT passage exactly once — the
    ingest-time shape of span dedup (state = one row per distinct
    fingerprint, bounded by CONTENT diversity, not stream length — the
    same contract as streaming_dedup_keys, with
    dropDuplicatesWithinWatermark as the evicting variant when
    re-emission beyond a horizon is tolerable). Only the fingerprint
    projects into the sink, so the output is order-independent and the
    DuckDB twin is simply the batch DISTINCT over the same chunking —
    streamed == batch, differentially proven. Output: the distinct
    fingerprints with their passage word counts (a pure function of
    the passage content, so identical whichever copy survives the
    dedup — deterministic even though dropDuplicates keeps an
    arbitrary row)."""
    name = "stream_passage_dedup_mem"
    for active in spark.streams.active:
        if active.name == name:
            active.stop()
    spark.catalog.dropTempView(name)
    prior_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        stage, batch_schema = _staged_events_dir(
            spark, sf_dir, table="documents"
        )
        stream = readers.file_stream(spark, stage, batch_schema)
        words = F.split(F.trim(F.lower("text")), r"\s+")
        n_chunks = F.ceil(F.size(words) / F.lit(20)).cast("int")
        passages = stream.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
                    lambda i: F.concat_ws(
                        " ", F.slice(words, i * 20 + 1, 20)
                    ),
                )
            ).alias("passage")
        ).select(
            F.md5("passage").alias("fp"),
            F.when(F.col("passage") == "", F.lit(0))
            .otherwise(F.size(F.split("passage", " ")))
            .cast("long")
            .alias("n_words"),
        )
        deduped = passages.dropDuplicates(["fp"])
        q = streaming.run_to_memory(deduped, name, output_mode="append")
        q.stop()
        return spark.table(name).orderBy("fp")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior_parts)


@query("""
            WITH c AS (
                SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT)
                           AS ws,
                       event_type, COUNT(*) AS cnt
                FROM events GROUP BY 1, 2
            ),
            r AS (
                SELECT ws, event_type, cnt,
                       ROW_NUMBER() OVER (
                           PARTITION BY ws
                           ORDER BY cnt DESC, event_type ASC) AS rn
                FROM c
            )
            SELECT ws, event_type AS top_type, cnt AS top_cnt
            FROM r WHERE rn = 1 ORDER BY ws
        """)
def q_streaming_windowed_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming aggregations (Spark 3.4+ multiple-
    stateful-operator support, exercised here on 4.x): hourly tumbling
    windowed counts per event type, then a SECOND stateful aggregate
    over the same event-time window electing each hour's dominant
    type — the "trending now" panel every ops dashboard runs, and the
    streaming shape (window agg → window agg) that used to require a
    foreachBatch detour. Determinism: the election is
    min(struct(−cnt, type)) — highest count, ties to the smallest
    type — an exact integer/string order; final counts only emit when
    the watermark closes the hour, so the bounded replay needs the
    in-band far-future sentinel (the left-outer-join mechanism; the
    sentinel's own window never closes, so it contributes no rows) and
    then equals the batch per-hour argmax the oracle runs. State:
    2 h watermark bounds both stores; rows are (window, type)-grain.
    Output: (ws, top_type, top_cnt), window-start-ordered."""

    def build(stream):
        counts = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        top1 = counts.groupBy("window").agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("nc"),
                    F.col("event_type").alias("et"),
                )
            ).alias("top")
        )
        return top1.select(
            F.col("window.start").cast("long").alias("ws"),
            F.col("top.et").alias("top_type"),
            (-F.col("top.nc")).cast("long").alias("top_cnt"),
        )

    return _run_event_stream_query(
        spark, sf_dir, "stream_windowed_top1_mem", build, "append", kind="wm1"
    ).orderBy("ws")


@query("""
            WITH p AS (
                SELECT user_id, event_id AS purchase_id, ts AS p_ts
                FROM events WHERE event_type = 'purchase'
            ),
            c AS (
                SELECT user_id, event_id AS click_id, ts AS c_ts
                FROM events WHERE event_type = 'click'
            )
            SELECT p.purchase_id,
                   COALESCE(c.click_id, -1) AS click_id,
                   p.user_id
            FROM p LEFT JOIN c
              ON p.user_id = c.user_id
             AND c.c_ts BETWEEN p.p_ts - INTERVAL 30 MINUTE AND p.p_ts
        """)
def q_streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the T7 tier above the
    inner interval join: every purchase emits, matched to same-user
    clicks in the preceding 30 minutes, or with a NULL click once the
    watermark PROVES no match can still arrive (the null side is what
    makes outer joins the hard case: it's a watermark-gated negative).
    Bounded-replay determinism: outer nulls only emit when a LATER
    batch advances the watermark past the purchase, so a replay that
    ends exactly at the data would leave the tail's negatives stuck in
    state — the runner stages two far-future sentinel rows that PASS
    THE SIDE FILTERS (a sentinel that only exists upstream of the
    filters never reaches the EventTimeWatermark nodes and moves
    nothing — measured: the watermark stayed at corpus-max − 2 h and
    the last 2 h of purchases never flushed): a click under an
    impossible user advances the click-side watermark and a purchase
    under another impossible user advances the purchase side (the
    global watermark is the MIN across both sides, so both must move).
    Watermarks update at end-of-batch and eviction runs in the
    following no-data micro-batch availableNow appends, which flushes
    every real pending null; the sentinel purchase itself sits 10 h
    past the final 8 h watermark, so its own null can never emit and
    the sentinels contribute zero output rows. The
    memory-sink result then equals the batch left interval join the
    oracle runs (click_id coalesced to −1 so the schema stays BIGINT).
    At 100 TB the same topology runs on Kafka with the watermark
    advanced by live traffic instead of a sentinel; state stays
    bounded by the 2 h watermark × arrival rate.

    ONE availableNow batch carries data + sentinel (r16 probe, guide
    §2.1): maxFilesPerTrigger=1 forced a data batch, a sentinel batch,
    and the eviction batch — but the watermark only advances at END of
    batch, so same-batch rows are never "late" relative to each other
    and the join's output SET is batching-invariant (the replay argument
    above). The sentinel files' mtime, stamped after the data's, still
    guards any reader that DOES split batches."""

    def build(stream):
        purchases = stream.filter(
            F.col("event_type") == "purchase"
        ).select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        clicks = stream.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        joined = purchases.withWatermark("p_ts", "2 hours").join(
            clicks.withWatermark("c_ts", "2 hours"),
            F.expr(
                "p_user = c_user AND "
                "c_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"
            ),
            "left_outer",
        )
        return joined.select(
            "purchase_id",
            F.coalesce("click_id", F.lit(-1)).alias("click_id"),
            F.col("p_user").alias("user_id"),
        )

    return _run_event_stream_query(
        spark, sf_dir, "stream_left_outer_mem", build, "append", kind="wm2"
    )
