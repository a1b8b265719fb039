"""Structured-Streaming semantics tests (SURVEY §5.3), driven through
bounded file streams + the memory sink — no broker required.

Covers: windowed rollup == batch twin, session windows, keyed
first-arrival dedup (T5), stream-static enrichment (T7), watermark
late-data drop across a checkpointed restart (T2), and the bounded
throttled replay (O2).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.readers import (
    file_stream,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.streaming import (
    pipeline,
)

SCHEMA = "ts TIMESTAMP, room STRING, temp DOUBLE"


def _write_events(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _rows(*specs):
    """(iso_minute_second, room, temp) → typed rows."""
    import datetime as dt

    return [
        (dt.datetime.fromisoformat(t), room, float(v)) for t, room, v in specs
    ]


def _drain(spark, stream_df, name, mode):
    q = pipeline.run_to_memory(stream_df, name, output_mode=mode)
    q.stop()
    return spark.table(name)


def test_windowed_rollup_equals_batch_groupby(spark, tmp_dir):
    src = f"{tmp_dir}/src"
    rows = _rows(
        ("2024-01-01T10:00:05", "a", 1.0),
        ("2024-01-01T10:00:55", "a", 3.0),
        ("2024-01-01T10:01:05", "a", 5.0),
        ("2024-01-01T10:00:30", "b", 7.0),
    )
    _write_events(spark, src, rows)
    stream = file_stream(spark, src, SCHEMA)
    rolled = pipeline.windowed_rollup(stream, "ts", ["room"], ["temp"])
    got = {
        (r.window_start.isoformat(), r.room): (r.temp_avg, r.temp_min, r.temp_max, r.n)
        for r in _drain(spark, rolled, f"w_{uuid.uuid4().hex[:6]}", "complete").collect()
    }
    assert got[("2024-01-01T10:00:00", "a")] == (2.0, 1.0, 3.0, 2)
    assert got[("2024-01-01T10:01:00", "a")] == (5.0, 5.0, 5.0, 1)
    assert got[("2024-01-01T10:00:00", "b")] == (7.0, 7.0, 7.0, 1)


def test_session_rollup_gap_splits_sessions(spark, tmp_dir):
    src = f"{tmp_dir}/src"
    rows = _rows(
        ("2024-01-01T10:00:00", "a", 1.0),
        ("2024-01-01T10:01:00", "a", 1.0),   # within 2-min gap → same session
        ("2024-01-01T10:07:00", "a", 1.0),   # 6 min silence → new session
    )
    _write_events(spark, src, rows)
    stream = file_stream(spark, src, SCHEMA)
    sess = pipeline.session_rollup(stream, "ts", ["room"], gap="2 minutes")
    got = sorted(
        (r.session_start.isoformat(), r.n)
        for r in _drain(spark, sess, f"s_{uuid.uuid4().hex[:6]}", "complete").collect()
    )
    assert got == [("2024-01-01T10:00:00", 2), ("2024-01-01T10:07:00", 1)]


def test_latest_value_view_first_arrival_dedup(spark, tmp_dir):
    src = f"{tmp_dir}/src"
    rows = _rows(
        ("2024-01-01T10:00:00", "a", 1.0),
        ("2024-01-01T10:00:00", "a", 99.0),  # same (key, ts) → duplicate
        ("2024-01-01T10:01:00", "a", 2.0),
    )
    _write_events(spark, src, rows)
    stream = file_stream(spark, src, SCHEMA)
    view = pipeline.latest_value_view(stream, ["room"], "ts")
    out = _drain(spark, view, f"l_{uuid.uuid4().hex[:6]}", "append").collect()
    assert len(out) == 2  # one row per (room, ts)
    assert sorted(r.ts.isoformat() for r in out) == [
        "2024-01-01T10:00:00",
        "2024-01-01T10:01:00",
    ]


def test_stream_static_enrich_broadcast_join(spark, tmp_dir):
    src = f"{tmp_dir}/src"
    _write_events(
        spark,
        src,
        _rows(("2024-01-01T10:00:00", "a", 1.0), ("2024-01-01T10:00:00", "z", 2.0)),
    )
    dim = spark.createDataFrame(
        [("a", 3), ("b", 4)], "room STRING, floor INT"
    )
    stream = file_stream(spark, src, SCHEMA)
    enriched = pipeline.stream_static_enrich(stream, dim, on="room", how="left")
    out = {r.room: r.floor for r in _drain(
        spark, enriched, f"e_{uuid.uuid4().hex[:6]}", "append"
    ).collect()}
    assert out == {"a": 3, "z": None}


def test_watermark_drops_late_rows_across_restart(spark, tmp_dir):
    """T2+T6: run 1 advances the watermark and closes the 10:00 window;
    run 2 (same checkpoint) feeds a row older than the watermark — it
    must be dropped, not re-open the finalized window."""
    src = f"{tmp_dir}/src"
    ckpt = f"{tmp_dir}/ckpt"
    out = f"{tmp_dir}/out"

    def run():
        # file sink: the memory sink can't recover from a checkpoint, and
        # checkpointed recovery IS the semantics under test (T2)
        stream = file_stream(spark, src, SCHEMA)
        agg = pipeline.windowed_rollup(
            stream, "ts", ["room"], ["temp"], watermark="10 minutes"
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        return spark.read.parquet(out)

    _write_events(
        spark,
        src,
        _rows(("2024-01-01T10:00:00", "a", 1.0), ("2024-01-01T11:00:00", "a", 2.0)),
    )
    out1 = run().collect()
    # watermark after run 1 = 10:50 → the 10:00 window is closed & emitted
    assert [r.window_start.isoformat() for r in out1] == ["2024-01-01T10:00:00"]

    _write_events(
        spark,
        src,
        _rows(
            ("2024-01-01T10:00:30", "a", 100.0),  # LATE: before 10:50 watermark
            ("2024-01-01T12:00:00", "a", 3.0),    # advances watermark past 11:01
        ),
    )
    rows2 = sorted(run().collect(), key=lambda r: r.window_start)
    starts = [r.window_start.isoformat() for r in rows2]
    # had the late row NOT been dropped it would re-emit a second 10:00
    # window row with temp=100; the cumulative sink must hold exactly the
    # run-1 10:00 row and the newly closed 11:00 row
    assert starts == ["2024-01-01T10:00:00", "2024-01-01T11:00:00"]
    assert rows2[0].n == 1 and rows2[0].temp_avg == 1.0
    assert rows2[1].n == 1 and rows2[1].temp_avg == 2.0


def test_ewma_stateful_operator_across_batches(spark, tmp_dir):
    """applyInPandasWithState: state must carry across micro-batches —
    three files at one file per trigger, final EWMA equals the closed-form
    sequential computation over all nine values."""
    src = f"{tmp_dir}/src"
    schema = "uid BIGINT, ts TIMESTAMP, v DOUBLE"
    import datetime as dt

    vals = [float(x) for x in [10, 12, 11, 20, 18, 19, 5, 6, 7]]
    for i in range(3):
        spark.createDataFrame(
            [
                (1, dt.datetime(2024, 1, 1, 10, i, j), vals[i * 3 + j])
                for j in range(3)
            ],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)

    stream = file_stream(spark, src, schema, max_files_per_trigger=1)
    ewma = pipeline.ewma_view(stream, "uid", "ts", "v", alpha=0.5)
    name = f"ew_{uuid.uuid4().hex[:6]}"
    q = pipeline.run_to_memory(ewma, name, output_mode="update")
    q.stop()
    rows = spark.table(name).collect()
    # one update row per micro-batch; the final one has n_seen == 9
    final = max(rows, key=lambda r: r.n_seen)
    expect = vals[0]
    for v in vals[1:]:
        expect = 0.5 * expect + 0.5 * v
    assert final.n_seen == 9
    assert abs(final.ewma - expect) < 1e-9
    assert len(rows) == 3  # state updated across three micro-batches


def test_throttled_replay_bounded_intake(spark, tmp_dir):
    """O2: three files, maxFilesPerTrigger=1 → no micro-batch ingests
    more than one file's rows; all rows eventually arrive."""
    src = f"{tmp_dir}/src"
    for i in range(3):
        _write_events(
            spark,
            src,
            _rows(*[(f"2024-01-01T10:0{i}:0{j}", "a", float(j)) for j in range(3)]),
        )
    stream = file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    name = f"r_{uuid.uuid4().hex[:6]}"
    q = pipeline.throttled_replay(
        stream, name, trigger_interval="500 milliseconds"
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and spark.table(name).count() < 9:
            time.sleep(0.5)
        assert spark.table(name).count() == 9
        per_batch = [p["numInputRows"] for p in q.recentProgress]
        assert max(per_batch) <= 3, f"a batch exceeded one file: {per_batch}"
        assert sum(1 for n in per_batch if n > 0) >= 3
    finally:
        q.stop()


def test_stream_stream_left_outer_join_emits_nulls_after_watermark(spark, tmp_dir):
    """Unmatched left rows must surface as null-extended rows once the
    watermark passes their join window — fed one file per micro-batch
    so the eviction actually happens across batches."""
    src = f"{tmp_dir}/souter"
    # batch 1: an observation with no calibration in its 10-min lookback
    _write_events(spark, src, _rows(("2024-01-01T10:00:00", "a", 1.0)))
    # batch 2: matched pair far in the future -> advances BOTH watermarks
    _write_events(
        spark,
        src,
        _rows(("2024-01-01T11:30:00", "x", 2.0), ("2024-01-01T11:30:00", "x", 200.0)),
    )
    # batch 3: another pair; processing it evicts 'a' (watermark 11:25)
    _write_events(
        spark,
        src,
        _rows(("2024-01-01T11:40:00", "y", 3.0), ("2024-01-01T11:40:00", "y", 300.0)),
    )

    stream = file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    obs = stream.filter(F.col("temp") < 100).select(
        F.col("room").alias("o_room"),
        F.col("ts").alias("o_ts"),
        F.col("temp").alias("o_temp"),
    )
    cal = stream.filter(F.col("temp") >= 100).select(
        F.col("room").alias("c_room"),
        F.col("ts").alias("c_ts"),
        F.col("temp").alias("c_temp"),
    )
    joined = pipeline.stream_stream_outer_join(
        obs,
        cal,
        F.expr(
            "o_room = c_room AND "
            "c_ts BETWEEN o_ts - INTERVAL 10 MINUTES AND o_ts"
        ),
        "o_ts",
        "c_ts",
        watermark="5 minutes",
    )
    name = f"souter_{uuid.uuid4().hex[:6]}"
    got = {
        r.o_room: r.c_temp
        for r in _drain(spark, joined.select("o_room", "c_temp"), name, "append").collect()
    }
    assert got["x"] == 200.0 and got["y"] == 300.0       # inner matches
    assert "a" in got and got["a"] is None               # evicted -> null row


def test_stream_stream_left_outer_late_match_no_null_row(spark, tmp_dir):
    """A right-side match arriving in a LATER micro-batch (but inside
    the watermark) must join its buffered left row — and that left row
    must NOT also surface as a null-extended row afterwards."""
    src = f"{tmp_dir}/slate"
    # batch 1: observation alone
    _write_events(spark, src, _rows(("2024-01-01T10:00:00", "a", 1.0)))
    # batch 2: its calibration arrives late (same minute, next batch)
    _write_events(spark, src, _rows(("2024-01-01T10:00:30", "a", 150.0)))
    # batches 3-4: advance watermark far past a's window, then evict
    _write_events(
        spark,
        src,
        _rows(("2024-01-01T11:30:00", "x", 2.0), ("2024-01-01T11:30:00", "x", 200.0)),
    )
    _write_events(
        spark,
        src,
        _rows(("2024-01-01T11:40:00", "y", 3.0), ("2024-01-01T11:40:00", "y", 300.0)),
    )

    stream = file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    obs = stream.filter(F.col("temp") < 100).select(
        F.col("room").alias("o_room"), F.col("ts").alias("o_ts")
    )
    cal = stream.filter(F.col("temp") >= 100).select(
        F.col("room").alias("c_room"),
        F.col("ts").alias("c_ts"),
        F.col("temp").alias("c_temp"),
    )
    joined = pipeline.stream_stream_outer_join(
        obs,
        cal,
        F.expr(
            "o_room = c_room AND "
            "c_ts BETWEEN o_ts AND o_ts + INTERVAL 10 MINUTES"
        ),
        "o_ts",
        "c_ts",
        watermark="5 minutes",
    )
    name = f"slate_{uuid.uuid4().hex[:6]}"
    rows = _drain(
        spark, joined.select("o_room", "c_temp"), name, "append"
    ).collect()
    a_rows = [r.c_temp for r in rows if r.o_room == "a"]
    # exactly one 'a' result: the late match — never a null companion
    assert a_rows == [150.0], rows


def test_rollup_refresh_sink_converges_to_batch_rollup(spark, tmp_dir):
    """Streaming half of the hypertable pattern: three files → three
    micro-batches (maxFilesPerTrigger=1) through the foreachBatch
    incremental refresh; the materialized day-partitioned rollup must
    equal the batch rollup of everything ingested — including the
    cross-batch merge of partials for the SAME minute."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators.rollup import (
        minute_rollup_frame,
    )

    src = f"{tmp_dir}/src"
    mat = f"{tmp_dir}/mat"
    ckpt = f"{tmp_dir}/ckpt"
    batches = [
        _rows(("2024-01-01T10:00:05", "a", 1.0), ("2024-01-01T10:00:40", "b", 2.0)),
        # same minute as batch 1 → must MERGE with stored partials
        _rows(("2024-01-01T10:00:50", "a", 3.0), ("2024-01-02T09:00:00", "a", 4.0)),
        _rows(("2024-01-02T09:00:30", "b", 5.0)),
    ]
    for rows in batches:
        _write_events(spark, src, rows)

    stream = file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(
            pipeline.rollup_refresh_sink(
                mat, ts_col="ts", keys=("room",), value_col="temp"
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    got = spark.read.parquet(mat).select("minute", "room", "n", "value_cents")
    want = minute_rollup_frame(
        spark.read.parquet(src), "ts", ("room",), "temp"
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # day partitioning held: one directory per affected day
    import os

    assert sorted(
        d for d in os.listdir(mat) if d.startswith("dt=")
    ) == ["dt=2024-01-01", "dt=2024-01-02"]


def test_transform_with_state_running_totals(spark, tmp_dir):
    """transformWithStateInPandas (Spark 4.x typed-state API): per-key
    running totals must converge to the batch aggregate across micro-
    batch boundaries — including a key that appears in both batches.
    Skips where `protobuf` (the TWS state-client wire format) is absent;
    the import gate in running_totals_view is itself exercised below."""
    import pytest

    pytest.importorskip("google.protobuf")
    prior = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = f"{tmp_dir}/src"
        batches = [
            _rows(("2024-01-01T10:00:05", "a", 1.5), ("2024-01-01T10:00:40", "b", 2.0)),
            _rows(("2024-01-01T10:01:50", "a", 3.25), ("2024-01-01T10:02:00", "c", 4.0)),
        ]
        for rows in batches:
            _write_events(spark, src, rows)
        stream = file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
        view = pipeline.running_totals_view(stream, "room", "temp")
        name = f"tws_{uuid.uuid4().hex[:6]}"
        rows = _drain(spark, view, name, "update").collect()
        # update mode emits one row per key per batch: latest = max n_seen
        latest = {}
        for r in rows:
            if r.room not in latest or r.n_seen > latest[r.room].n_seen:
                latest[r.room] = r
        got = {k: (r.n_seen, r.total_cents, r.max_value) for k, r in latest.items()}
        assert got == {
            "a": (2, 475, 3.25),
            "b": (1, 200, 2.0),
            "c": (1, 400, 4.0),
        }, got
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prior
            )


def test_running_totals_view_gates_missing_protobuf(spark):
    """Without protobuf the operator must fail fast with a clear message,
    not crash an opaque TWS worker mid-query."""
    try:
        import google.protobuf  # noqa: F401
        import pytest

        pytest.skip("protobuf present; gate not reachable")
    except ImportError:
        pass
    import pytest

    stream = spark.readStream.format("rate").load().selectExpr(
        "CAST(value % 3 AS STRING) AS room", "CAST(value AS DOUBLE) AS temp"
    )
    with pytest.raises(RuntimeError, match="protobuf"):
        pipeline.running_totals_view(stream, "room", "temp")


def test_rollup_refresh_sink_replay_is_idempotent(spark, tmp_dir):
    """foreachBatch is at-least-once: re-applying the same batch_id must
    not double-merge the partials into the day partitions."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators.rollup import (
        minute_rollup_frame,
    )

    mat = f"{tmp_dir}/mat"
    batch = spark.createDataFrame(
        _rows(("2024-01-01T10:00:05", "a", 1.0), ("2024-01-01T10:00:40", "b", 2.0)),
        SCHEMA,
    )
    sink = pipeline.rollup_refresh_sink(mat, ts_col="ts", keys=("room",), value_col="temp")
    sink(batch, 0)
    sink(batch, 0)  # replay of the SAME batch id → no-op
    got = spark.read.parquet(mat)
    assert got.agg(F.sum("n")).head()[0] == 2
    sink(batch, 1)  # a new batch id DOES merge
    assert spark.read.parquet(mat).agg(F.sum("n")).head()[0] == 4


def test_rollup_refresh_sink_recovers_from_mid_swap_crash(spark, tmp_dir):
    """The day-partition swap renames the old dir ASIDE before the
    commit; if a crash lands between that rename and os.replace, the day
    exists only as `<ddir>.old`. On replay (the ledger was never marked)
    the sink must restore it as the committed state and merge into it —
    not treat the day as empty and silently drop the prior partials."""
    import os
    import shutil

    mat = f"{tmp_dir}/mat"
    b0 = spark.createDataFrame(
        _rows(("2024-01-01T10:00:05", "a", 1.0), ("2024-01-01T10:00:40", "b", 2.0)),
        SCHEMA,
    )
    b1 = spark.createDataFrame(_rows(("2024-01-01T10:01:10", "a", 3.0)), SCHEMA)
    sink = pipeline.rollup_refresh_sink(mat, ts_col="ts", keys=("room",), value_col="temp")
    sink(b0, 0)
    ddir = os.path.join(mat, "dt=2024-01-01")
    # simulate batch 1 crashing mid-swap: the day dir was renamed aside
    # (it holds the pre-batch-1 state), the swap never ran, and the
    # ledger never marked batch 1 — so the stream replays it
    os.replace(ddir, ddir + ".old")
    sink(b1, 1)  # replay: recovery restores .old, then merges batch 1
    got = spark.read.parquet(mat)
    assert got.agg(F.sum("n")).head()[0] == 3
    assert not os.path.exists(ddir + ".old")
    # the OTHER window: swap completed but .old cleanup was lost — the
    # stale copy must be dropped, not restored over the live dir
    shutil.copytree(ddir, ddir + ".old")
    sink(spark.createDataFrame(_rows(("2024-01-01T10:02:00", "b", 1.0)), SCHEMA), 2)
    assert spark.read.parquet(mat).agg(F.sum("n")).head()[0] == 4
    assert not os.path.exists(ddir + ".old")


def test_dedup_ingest_sink_flags_cross_batch_near_dup(spark, tmp_dir):
    """Streaming ingest dedup: a batch-2 document that near-duplicates a
    batch-1 document must be flagged against the INDEX (cross-batch),
    with batch-sized work only; distinct docs pass clean."""
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest to find some tasty food for "
        "its hungry little cubs waiting at home"
    )
    tweaked = base.replace("tasty", "delicious")
    other = (
        "completely unrelated text about spark structured streaming "
        "state stores checkpoints and watermarks nothing shared with "
        "the fox sentence at all in any shingle of three words"
    )
    src = f"{tmp_dir}/docs"
    schema = "doc_id LONG, text STRING"
    spark.createDataFrame([(1, base), (2, other)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame([(3, tweaked), (4, other + " totally new tail")],
                          schema).coalesce(1).write.mode("append").parquet(src)

    index = f"{tmp_dir}/index"
    verdicts = f"{tmp_dir}/verdicts"
    stream = file_stream(spark, src, schema, max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(
            pipeline.dedup_ingest_sink(index, verdicts, threshold=0.35)
        )
        .option("checkpointLocation", f"{tmp_dir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    got = {r.doc_id: r for r in spark.read.parquet(verdicts).collect()}
    assert len(got) == 4
    assert not got[1].is_dup and not got[2].is_dup  # first batch: empty index
    assert got[3].is_dup and got[3].dup_of == 1 and got[3].est_jaccard >= 0.35
    # doc 4 shares most shingles with doc 2 (same text + a tail) → also
    # flagged, against the batch-1 doc; the genuinely-new doc is only 3's
    # near-dup flag target check above. Verify 4's match target is doc 2.
    assert got[4].is_dup and got[4].dup_of == 2
    # index now holds all four docs' signatures
    assert spark.read.parquet(f"{index}/sigs").count() == 4
    # and the incrementally-maintained cluster table equals the batch
    # clustering of all flagged edges: {1,3} and {2,4}
    comp = {
        r.id: r.component
        for r in spark.read.parquet(f"{index}/components").collect()
    }
    assert comp == {1: 1, 3: 1, 2: 2, 4: 2}


def test_progress_recorder_captures_micro_batch_metrics(spark, tmp_dir):
    """The listener must record per-micro-batch rows/duration/state
    metrics and the durationMs phases, and expose them as an aggregable
    DataFrame."""
    import time

    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.streaming.monitor import (
        PHASES,
        ProgressRecorder,
    )

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        src = f"{tmp_dir}/src"
        _write_events(
            spark, src,
            _rows(("2024-01-01T10:00:05", "a", 1.0), ("2024-01-01T10:01:00", "b", 2.0)),
        )
        stream = file_stream(spark, src, SCHEMA)
        agg = pipeline.windowed_rollup(stream, "ts", ["room"], ["temp"])
        name = f"mon_{uuid.uuid4().hex[:6]}"
        q = pipeline.run_to_memory(agg, name, output_mode="complete")
        q.stop()
        # listener events are delivered asynchronously
        deadline = time.time() + 30
        while time.time() < deadline and not any(
            r[0] == name and r[2] > 0 for r in rec.records
        ):
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(rec)
    rows = {r[0]: r for r in rec.records if r[0] == name and r[2] > 0}
    assert name in rows, rec.records
    got = rows[name]
    assert got[2] == 2          # num_input_rows
    assert got[5] >= 2          # stateful agg kept >= 2 window-state rows
    # the trigger's durationMs phases, each an int, none longer than the
    # trigger itself
    phases = dict(zip(PHASES, got[6:]))
    assert all(isinstance(v, int) and v >= 0 for v in phases.values()), phases
    assert max(phases.values()) == phases["triggerExecution"]
    frame = rec.frame(spark)
    assert frame.columns[6:] == [f"{ph}_ms" for ph in PHASES]
    assert frame.where(f"query_name = '{name}' AND num_input_rows > 0").first()[
        "addBatch_ms"
    ] == phases["addBatch"]
    summary = {
        r.query_name: r for r in rec.summary(spark).collect() if r.query_name == name
    }
    assert summary[name].total_rows == 2


def test_windowed_rollup_on_rocksdb_state_store(spark, tmp_dir):
    """The production state backend (SURVEY §7 Phase 4): the same
    watermarked windowed rollup, executed with the RocksDB state store
    provider — state spills to native sorted tables instead of the
    JVM-heap HDFSBackedStateStore, which is what keeps executor heaps
    flat when window/session state reaches 100 TB-scale key counts."""
    prior = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = f"{tmp_dir}/src"
        _write_events(
            spark, src,
            _rows(
                ("2024-01-01T10:00:05", "a", 1.0),
                ("2024-01-01T10:00:55", "a", 3.0),
                ("2024-01-01T10:01:05", "b", 5.0),
            ),
        )
        stream = file_stream(spark, src, SCHEMA)
        rolled = pipeline.windowed_rollup(stream, "ts", ["room"], ["temp"])
        name = f"rocks_{uuid.uuid4().hex[:6]}"
        got = {
            (r.window_start.isoformat(), r.room): (r.temp_avg, r.n)
            for r in _drain(spark, rolled, name, "complete").collect()
        }
        assert got[("2024-01-01T10:00:00", "a")] == (2.0, 2)
        assert got[("2024-01-01T10:01:00", "b")] == (5.0, 1)
    finally:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", prior
        )


def test_streaming_sketch_quantiles_on_rocksdb_state_store(spark, tmp_dir):
    """The round-5 flagship STATEFUL query shape (bounded-state
    streaming quantiles: logbucket_build as a watermarked streaming
    aggregation) under the PRODUCTION state backend — RocksDB native
    state instead of the JVM-heap HDFSBackedStateStore. At 100 TB the
    (window, group, bucket) key count is what breaks heap-backed state;
    the sketch bounds it to <=512 buckets per group and RocksDB keeps
    it off-heap. Asserts streamed==batch AND captures the state
    operator's numRowsTotal to pin the bounded-state claim; the
    measured state-size/init-cost note lives in PLANS.md."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators.sketches import (
        logbucket_build,
        logbucket_quantile,
    )

    prior = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = f"{tmp_dir}/src"
        rows = _rows(
            *[
                (
                    f"2024-01-01T10:{m:02d}:{s_:02d}",
                    f"t{i % 3}",
                    float((i * 37) % 500 + 1),
                )
                for i, (m, s_) in enumerate(
                    (i // 10, (i * 7) % 60) for i in range(120)
                )
            ]
        )
        _write_events(spark, src, rows[:60])
        _write_events(spark, src, rows[60:])
        stream = file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
        vals = stream.withWatermark("ts", "10 minutes").select(
            F.window("ts", "10 minutes").start.alias("w10"),
            F.col("room").alias("event_type"),
            F.col("temp").cast("long").alias("v"),
        )
        grid = logbucket_build(vals, ["w10", "event_type"], "v")
        name = f"rocks_lb_{uuid.uuid4().hex[:6]}"
        q = pipeline.run_to_memory(grid, name, output_mode="complete")
        prog = q.lastProgress
        q.stop()
        streamed = sorted(
            map(tuple, spark.table(name).collect())
        )
        batch_vals = spark.createDataFrame(rows, SCHEMA).select(
            F.window("ts", "10 minutes").start.alias("w10"),
            F.col("room").alias("event_type"),
            F.col("temp").cast("long").alias("v"),
        )
        whole = sorted(
            map(
                tuple,
                logbucket_build(batch_vals, ["w10", "event_type"], "v").collect(),
            )
        )
        assert streamed == whole
        # bounded state: rows in the store <= groups x 512 buckets
        ops = (prog or {}).get("stateOperators") or []
        if ops:  # progress is best-effort on availableNow termination
            n_groups = len({(r[0], r[1]) for r in whole})
            assert ops[0]["numRowsTotal"] <= n_groups * 512
        # quantile serving off the drained grid matches the batch walk.
        # localCheckpoint breaks lineage off the MemoryPlan view: the
        # walk self-joins the grid and two derivations of one memory
        # view trip the conflicting-reference check (same carve-out as
        # q_streaming_window_quantiles); the grid is sketch-bounded so
        # this is a few KB, not a spill.
        served = sorted(
            map(
                tuple,
                logbucket_quantile(
                    spark.table(name).localCheckpoint(eager=True),
                    ["w10", "event_type"],
                    [0.5, 0.9],
                ).collect(),
            )
        )
        batch_q = sorted(
            map(
                tuple,
                logbucket_quantile(
                    logbucket_build(batch_vals, ["w10", "event_type"], "v"),
                    ["w10", "event_type"],
                    [0.5, 0.9],
                ).collect(),
            )
        )
        assert served == batch_q
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prior)


def test_quality_gate_sink_routes_rows_with_reasons(spark, tmp_dir):
    """Row-level quality gate: violating rows land in quarantine with the
    list of failed checks; clean rows pass; NULL predicates quarantine
    (unknown is not a pass); replay of a batch id rewrites, not appends."""
    good, bad = f"{tmp_dir}/good", f"{tmp_dir}/bad"
    batch = spark.createDataFrame(
        _rows(
            ("2024-01-01T10:00:05", "a", 1.0),     # clean
            ("2024-01-01T10:00:10", "z", -3.0),    # bad temp AND bad room
            ("2024-01-01T10:00:20", "b", 2.0),     # clean
        )
        + [(None, "a", None)],                     # NULL ts and temp
        SCHEMA,
    )
    sink = pipeline.quality_gate_sink(
        good,
        bad,
        [
            ("temp_nonneg", F.col("temp") < 0),
            ("room_known", ~F.col("room").isin("a", "b")),
            ("ts_not_null", F.col("ts").isNull()),
        ],
    )
    sink(batch, 0)
    sink(batch, 0)  # replay must rewrite, not duplicate
    ok = spark.read.parquet(good)
    qr = spark.read.parquet(bad)
    assert ok.count() == 2 and set(r.room for r in ok.collect()) == {"a", "b"}
    reasons = {tuple(sorted(r.failed_checks)) for r in qr.collect()}
    assert reasons == {
        ("room_known", "temp_nonneg"),
        ("temp_nonneg", "ts_not_null"),  # NULL temp -> violation too
    }, reasons


def _gate_batches(spark):
    mk = lambda *rows: spark.createDataFrame(_rows(*rows), SCHEMA)
    return [
        mk(("2024-01-01T10:00:05", "a", 1.0), ("2024-01-01T10:00:10", "x", -2.0)),
        mk(("2024-01-01T10:01:05", "b", 2.0), ("2024-01-01T10:01:10", "a", 3.0)),
        mk(("2024-01-01T10:02:05", "b", -1.0), ("2024-01-01T10:02:10", "a", 4.0)),
    ]


def _gate_sink(spark, good, bad):
    return pipeline.quality_gate_sink(
        good,
        bad,
        [
            ("temp_nonneg", F.col("temp") < 0),
            ("room_known", ~F.col("room").isin("a", "b")),
        ],
    )


def test_compact_batch_dirs_preserves_rows_and_drops_files(spark, tmp_dir):
    """Compaction must be invisible to readers (same rows before/after)
    while collapsing per-batch directories into one partition with
    fewer files; a later batch then compacts incrementally into the
    same consolidated dir."""
    import os

    good, bad = f"{tmp_dir}/good", f"{tmp_dir}/bad"
    sink = _gate_sink(spark, good, bad)
    batches = _gate_batches(spark)
    sink(batches[0], 0)
    sink(batches[1], 1)

    def rows(df):
        return sorted((r.room, r.temp) for r in df.collect())

    def pq_files(root):
        return [
            os.path.join(d, f)
            for d, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        ]

    before = rows(spark.read.parquet(good))
    files_before = len(pq_files(good))
    assert pipeline.compact_batch_dirs(spark, good) == 2
    after = rows(pipeline.read_batch_dirs(spark, good))
    assert after == before
    assert len(pq_files(good)) < files_before
    assert not os.path.exists(f"{good}/ingest=0")
    # incremental: a third batch folds into the existing consolidated dir
    sink(batches[2], 2)
    assert pipeline.compact_batch_dirs(spark, good, min_batches=1) == 1
    got = rows(pipeline.read_batch_dirs(spark, good))
    assert got == sorted(before + [("a", 4.0)])
    # idempotent: nothing left to fold
    assert pipeline.compact_batch_dirs(spark, good, min_batches=1) == 0


def test_compaction_replay_and_crash_windows_are_safe(spark, tmp_dir):
    """(1) A foreachBatch replay of a batch id that compaction already
    consumed must be skipped by the sink ledger, not resurrected as a
    duplicate directory. (2) A crash between swap and cleanup leaves a
    consumed ingest dir on disk: read_batch_dirs must exclude it and
    the next compaction must delete it."""
    import os
    import shutil

    good, bad = f"{tmp_dir}/good", f"{tmp_dir}/bad"
    sink = _gate_sink(spark, good, bad)
    batches = _gate_batches(spark)
    sink(batches[0], 0)
    sink(batches[1], 1)
    baseline = sorted(
        (r.room, r.temp) for r in spark.read.parquet(good).collect()
    )
    # stash a copy of ingest=1 to fake the crash leftover later
    stash = f"{tmp_dir}/stash"
    shutil.copytree(f"{good}/ingest=1", stash)
    assert pipeline.compact_batch_dirs(spark, good) == 2
    # (1) replay after compaction: ledger skips, no dir reappears
    sink(batches[0], 0)
    assert not os.path.exists(f"{good}/ingest=0")
    # (2) crash leftover: consumed dir back on disk next to its
    # compacted copy — naive root read double-counts, helper must not
    shutil.copytree(stash, f"{good}/ingest=1")
    naive = spark.read.parquet(good).count()
    assert naive == len(baseline) + 2  # proves the hazard is real
    got = sorted(
        (r.room, r.temp)
        for r in pipeline.read_batch_dirs(spark, good).collect()
    )
    assert got == baseline
    # next compaction sweeps the leftover instead of re-folding it
    assert pipeline.compact_batch_dirs(spark, good, min_batches=5) == 0
    assert not os.path.exists(f"{good}/ingest=1")
    assert sorted(
        (r.room, r.temp)
        for r in pipeline.read_batch_dirs(spark, good).collect()
    ) == baseline


def test_pq_ingest_sink_converges_to_batch_index(spark, tmp_dir):
    """Streaming PQ index maintenance: after ingesting embedding batches
    through pq_ingest_sink, the per-batch code index must hold exactly
    the codes a from-scratch batch pq_encode of the full corpus
    produces, serving must work straight off the live root
    (read_batch_dirs → pq_multi_query_topk), and a replayed batch must
    not duplicate rows (ledger fast-path)."""
    import numpy as np

    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        similarity,
    )

    rng = np.random.RandomState(3)
    vecs = rng.randn(60, 16)
    schema = "vec_id long, embedding array<double>"
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    src = f"{tmp_dir}/emb"
    for lo, hi in ((0, 20), (20, 40), (40, 60)):
        spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    corpus = spark.createDataFrame(rows, schema)
    cb = similarity.train_pq_codebooks(corpus, m=4, k=8, sample=60, seed=5)
    index = f"{tmp_dir}/pq_live"
    sink = pipeline.pq_ingest_sink(index, cb)
    q = (
        file_stream(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{tmp_dir}/ckpt_pq")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    live = pipeline.read_batch_dirs(spark, index)
    got = {r.vec_id: list(r.pq_code) for r in live.collect()}
    want = {
        r.vec_id: list(r.pq_code)
        for r in similarity.pq_encode(corpus, cb)
        .select("vec_id", "pq_code")
        .collect()
    }
    assert got == want

    # replaying an applied batch is a no-op (ledger fast-path)
    sink(spark.createDataFrame(rows[0:20], schema), 0)
    assert pipeline.read_batch_dirs(spark, index).count() == 60

    # serving straight off the live per-batch root
    qv = rows[0][1]
    served = similarity.pq_multi_query_topk(
        spark, live, corpus, [(0, qv)], cb, k=5, shortlist=20
    ).collect()
    assert len(served) == 5
    assert served[0].vec_id == 0 or any(r.vec_id == 0 for r in served)


def test_sketch_rollup_sink_converges_and_replay_is_algebraic_noop(
    spark, tmp_dir
):
    """Streaming HLL rollup: after a 3-batch ingest the stored per-day
    sketch estimates must equal the batch sketch over everything
    ingested (same-lgK union is lossless), and re-applying a batch must
    change nothing — replay safety comes from union's idempotence, not
    a ledger."""
    import datetime

    rows = [
        (datetime.datetime(2024, 1, 1 + (i % 3), 8, 0, 0), i % 37)
        for i in range(300)
    ]
    schema = "ts timestamp, user_id long"
    src = f"{tmp_dir}/sk_src"
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = f"{tmp_dir}/sk_store"
    sink = pipeline.sketch_rollup_sink(store)
    q = (
        file_stream(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{tmp_dir}/ckpt_sk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    def estimates():
        return {
            r.day: r.est
            for r in spark.read.parquet(store)
            .select("day", F.hll_sketch_estimate("sk").alias("est"))
            .collect()
        }

    got = estimates()
    want = {
        r.day: r.est
        for r in spark.createDataFrame(rows, schema)
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert got == want and len(got) == 3
    # low cardinality (37 users across 3 days) → estimates exact
    exact = {
        r.day: r.n
        for r in spark.createDataFrame(rows, schema)
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert got == exact

    # replaying an already-merged batch is a no-op by union idempotence
    sink(spark.createDataFrame(rows[0:100], schema), 0)
    assert estimates() == got


def test_dedup_within_watermark_evicts_and_reemits(spark, tmp_dir):
    """dropDuplicatesWithinWatermark semantics pinned: duplicates
    inside the horizon are suppressed; the SAME key recurring far
    beyond the watermark emits again (state was evicted) — exactly the
    at-least-once-source contract, and exactly what global
    dropDuplicates would NOT do."""
    import datetime

    schema = "ts timestamp, k string"
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def at(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    src = f"{tmp_dir}/dwsrc"

    def write_batch(rows, order):
        import glob
        import os

        before = set(glob.glob(f"{src}/part-*.parquet"))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        # the file source orders by modification time; writes land within
        # the same mtime tick, so pin distinct mtimes to pin batch order
        for p in set(glob.glob(f"{src}/part-*.parquet")) - before:
            os.utime(p, (1_000_000 + order, 1_000_000 + order))

    # batch 1: key A twice within minutes (dup), key B once
    write_batch([(at(0), "A"), (at(1), "A"), (at(2), "B")], 1)
    # batch 2 advances the watermark far past A's expiry; batch 3 runs
    # with that watermark so its END evicts A's state (watermark
    # propagation and eviction each lag one micro-batch); batch 4's A
    # then finds no state and re-emits
    write_batch([(at(600), "C")], 2)
    write_batch([(at(605), "D")], 3)
    write_batch([(at(610), "A")], 4)

    stream = file_stream(spark, src, schema, max_files_per_trigger=1)
    out = pipeline.dedup_within_watermark(
        stream, ["k"], "ts", watermark="10 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("dw_mem")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_dir}/dw_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    rows = [(r.k, r.ts) for r in spark.table("dw_mem").collect()]
    ks = sorted(k for k, _ in rows)
    # A emitted TWICE (once per horizon), B/C/D once each
    assert ks == ["A", "A", "B", "C", "D"], rows


def test_read_batch_dirs_resolves_mid_swap_crash_leftovers(spark, tmp_dir):
    """A compaction crash between os.replace and the .old cleanup
    leaves `ingest=-1.old` beside `ingest=-1`; partition discovery
    would read the retired copy as a second partition (double-counting
    every compacted row and degrading the partition type to string).
    read_batch_dirs must resolve the leftover first and return the
    exact row set."""
    import shutil

    root = f"{tmp_dir}/qroot"
    sink = pipeline.quality_gate_sink(root, f"{tmp_dir}/qquar", [])
    df = spark.range(10).select(F.col("id").alias("v"))
    sink(df.filter("v < 5"), 0)
    sink(df.filter("v >= 5"), 1)
    assert pipeline.compact_batch_dirs(spark, root, min_batches=2) == 2
    # simulate the crash window: retired copy still on disk
    shutil.copytree(f"{root}/ingest=-1", f"{root}/ingest=-1.old")
    got = sorted(r.v for r in pipeline.read_batch_dirs(spark, root).collect())
    assert got == list(range(10))
    import os

    assert not os.path.exists(f"{root}/ingest=-1.old")


def test_cms_refresh_sink_merge_equals_whole_and_ledger_blocks_replay(
    spark, tmp_dir
):
    """Streaming CMS maintenance: after a 3-batch ingest the stored
    grid must equal cms_build over everything ingested (cell-wise sum
    merge is lossless), and replaying an applied batch must change
    nothing — here safety comes from the LEDGER, because sum-merge is
    not idempotent (the algebraic mirror of the HLL sink's analysis)."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators.sketches import (
        cms_build,
    )

    rows = [(i % 53,) for i in range(300)]
    schema = "user_id long"
    src = f"{tmp_dir}/cms_src"
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = f"{tmp_dir}/cms_store/grid"
    sink = pipeline.cms_refresh_sink(store, "user_id", depth=4, width=64)
    q = (
        file_stream(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{tmp_dir}/ckpt_cms")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    def grid():
        return sorted(
            map(tuple, spark.read.parquet(store).collect())
        )

    got = grid()
    whole = sorted(
        map(
            tuple,
            cms_build(
                spark.createDataFrame(rows, schema), "user_id", 4, 64
            ).collect(),
        )
    )
    assert got == whole
    # mass check: each of the 4 COUNTER rows sums to the 300 ingested
    # rows (r = -1 is the parameter sentinel, not mass)
    per_row = (
        spark.read.parquet(store)
        .filter(F.col("r") >= 0)
        .groupBy("r")
        .agg(F.sum("n").alias("s"))
    ).collect()
    assert {r.s for r in per_row} == {300}

    # replaying batch 0 must be blocked by the ledger (sum-merge would
    # otherwise double-count it)
    sink(spark.createDataFrame(rows[0:100], schema), 0)
    assert grid() == got
    # a genuinely NEW batch id does merge
    sink(spark.createDataFrame([(999,)], schema), 99)
    assert grid() != got


def test_kmv_refresh_sink_streamed_equals_batch_and_replay_is_noop(
    spark, tmp_dir
):
    """Streaming KMV maintenance: after a 3-batch ingest the stored
    per-group sketches must equal kmv_build over everything ingested,
    and re-applying a batch must change nothing WITHOUT a ledger —
    bottom-k set union is idempotent (the third point of the sketch
    replay-algebra triptych: HLL max-merge, CMS sum-merge, KMV
    set-merge)."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators.sketches import (
        kmv_build,
    )

    rows = [(f"t{i % 2}", i % 97) for i in range(300)]
    schema = "event_type string, user_id long"
    src = f"{tmp_dir}/kmv_src"
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = f"{tmp_dir}/kmv_store/sk"
    sink = pipeline.kmv_refresh_sink(store, ("event_type",), "user_id", k=32)
    q = (
        file_stream(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{tmp_dir}/ckpt_kmv")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    def state():
        return sorted(map(tuple, spark.read.parquet(store).collect()))

    got = state()
    whole = sorted(
        map(
            tuple,
            kmv_build(
                spark.createDataFrame(rows, schema),
                ["event_type"],
                "user_id",
                k=32,
            ).collect(),
        )
    )
    assert got == whole
    # replay with no ledger: set-merge idempotence makes it a no-op
    sink(spark.createDataFrame(rows[0:100], schema), 0)
    assert state() == got


def test_bloom_refresh_sink_streamed_equals_batch_and_serves_probes(
    spark, tmp_dir
):
    """Streaming Bloom maintenance: after a 3-batch ingest the stored
    bit-set equals bloom_build over everything ingested (deterministic
    md5 family), an un-ledgered replay is a no-op (bit-set OR is
    idempotent — fourth point of the sketch replay-algebra family),
    and batch bloom_probe over the maintained state honors the
    no-false-negative contract for every ingested key."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    rows = [(i % 173,) for i in range(300)]
    schema = "user_id long"
    src = f"{tmp_dir}/bloom_src"
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = f"{tmp_dir}/bloom_store/sk"
    sink = pipeline.bloom_refresh_sink(store, "user_id", 4, 2048)
    q = (
        file_stream(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{tmp_dir}/ckpt_bloom")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    def state():
        return sorted(r.bit for r in spark.read.parquet(store).collect())

    got = state()
    whole = sorted(
        r.bit
        for r in bloom_build(
            spark.createDataFrame(rows, schema), "user_id", 4, 2048
        ).collect()
    )
    assert got == whole
    # replay with no ledger: OR idempotence makes it a no-op
    sink(spark.createDataFrame(rows[0:100], schema), 0)
    assert state() == got
    # serving: every ingested key must pass the probe
    verdicts = bloom_probe(
        spark.read.parquet(store),
        spark.createDataFrame(rows, schema).distinct(),
        "user_id",
        4,
        2048,
    ).collect()
    assert len(verdicts) == 173 and all(r.might_contain for r in verdicts)


def test_logbucket_refresh_sink_streamed_equals_batch_ledger_blocks_replay(
    spark, tmp_dir
):
    """Streaming quantile-sketch maintenance: stored per-group buckets
    equal logbucket_build over everything ingested; a replayed batch id
    is blocked by the ledger (sum-merge would double-count, same
    algebra as the CMS sink); quantiles served from the maintained
    state match the batch sketch's."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators.sketches import (
        logbucket_build,
        logbucket_quantile,
    )

    rows = [(f"t{i % 2}", (i * 37) % 5000 + 1) for i in range(300)]
    schema = "event_type string, value long"
    src = f"{tmp_dir}/lb_src"
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = f"{tmp_dir}/lb_store/sk"
    sink = pipeline.logbucket_refresh_sink(store, ("event_type",), "value")
    q = (
        file_stream(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{tmp_dir}/ckpt_lb")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    def state():
        return sorted(
            map(
                tuple,
                spark.read.parquet(store)
                .select("event_type", "bucket", "n")
                .collect(),
            )
        )

    got = state()
    whole = sorted(
        map(
            tuple,
            logbucket_build(
                spark.createDataFrame(rows, schema), ["event_type"], "value"
            ).collect(),
        )
    )
    assert got == whole
    # ledger blocks the replayed batch id
    sink(spark.createDataFrame(rows[0:100], schema), 0)
    assert state() == got
    # serving parity
    served = sorted(
        map(
            tuple,
            logbucket_quantile(
                spark.read.parquet(store).select("event_type", "bucket", "n"),
                ["event_type"],
                [0.5, 0.9],
            ).collect(),
        )
    )
    batch = sorted(
        map(
            tuple,
            logbucket_quantile(
                logbucket_build(
                    spark.createDataFrame(rows, schema),
                    ["event_type"],
                    "value",
                ),
                ["event_type"],
                [0.5, 0.9],
            ).collect(),
        )
    )
    assert served == batch


def test_stats_refresh_sink_streamed_equals_batch_and_serves_outliers(
    spark, tmp_dir
):
    """Maintained moment statistics == one batch aggregate over
    everything ingested; the ledger blocks a replayed batch id; and the
    integer-exact z-score inequality served from the maintained state
    flags exactly the rows the batch two-pass flags."""
    rows = [("t%d" % (i % 2), float((i * 37) % 500) / 10) for i in range(300)]
    rows.append(("t0", 5000.0))  # a clear outlier in t0
    schema = "event_type string, value double"
    src = f"{tmp_dir}/st_src"
    for lo, hi in ((0, 100), (100, 200), (200, 301)):
        spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = f"{tmp_dir}/st_store/stats"
    sink = pipeline.stats_refresh_sink(store, ("event_type",), "value")
    q = (
        file_stream(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{tmp_dir}/ckpt_st")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    whole = spark.createDataFrame(rows, schema)
    cents = F.round(F.col("value") * 100).cast("long")
    batch_stats = sorted(
        map(
            tuple,
            whole.select("event_type", cents.alias("v"))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("v").alias("s"),
                F.sum(F.col("v") * F.col("v")).alias("s2"),
            )
            .collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            spark.read.parquet(store)
            .select("event_type", "n", "s", "s2")
            .collect(),
        )
    )
    assert got == batch_stats
    # replayed batch id is a no-op
    sink(spark.createDataFrame(rows[0:100], schema), 0)
    assert sorted(
        map(
            tuple,
            spark.read.parquet(store)
            .select("event_type", "n", "s", "s2")
            .collect(),
        )
    ) == batch_stats
    # serve the outlier gate from the maintained state
    stats = spark.read.parquet(store)
    vals = whole.select("event_type", cents.alias("v"))
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    dev = d(F.col("n")) * d(F.col("v")) - d(F.col("s"))
    nvar = d(F.col("n")) * d(F.col("s2")) - d(F.col("s")) * d(F.col("s"))
    flagged = (
        vals.join(F.broadcast(stats), "event_type")
        .filter(dev * dev > 9 * nvar)
        .collect()
    )
    assert any(r.v == 500000 for r in flagged)  # the planted outlier


def test_streaming_left_outer_join_flushes_tail_nulls(spark):
    """The watermark-gated negatives: purchases in the final 2h window
    can only emit their NULL row if something later advances the
    watermark — the sentinel mechanism must flush ALL of them, so the
    streaming result equals the batch left interval join exactly."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    got = em.q_streaming_left_outer_join(spark, sf)
    ev = spark.read.parquet(f"{sf}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    want = (
        p.join(
            c,
            F.expr(
                "p_user = c_user AND "
                "c_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"
            ),
            "left_outer",
        )
        .select(
            "purchase_id",
            F.coalesce("click_id", F.lit(-1)).alias("click_id"),
            F.col("p_user").alias("user_id"),
        )
    )
    gs = sorted(map(tuple, got.collect()))
    ws = sorted(map(tuple, want.collect()))
    assert gs == ws
    # the tail purchases (inside the final watermark window) DID flush
    max_p = p.agg(F.max("p_ts")).collect()[0][0]
    tail_ids = {
        r.purchase_id
        for r in p.filter(
            F.col("p_ts") > F.lit(max_p) - F.expr("INTERVAL 2 HOURS")
        ).collect()
    }
    assert tail_ids and tail_ids <= {t[0] for t in gs}
    # sentinels contribute nothing
    assert all(t[0] >= 0 for t in gs)


def test_kaplan_meier_survival_is_monotone_nonincreasing(spark):
    import __spark_entry__ as em

    rows = em.q_kaplan_meier_churn(spark, "/root/testdata/sf0.001").collect()
    assert rows, "expected at least one lifetime row"
    s = [r.s_micro for r in rows]
    assert all(a >= b for a, b in zip(s, s[1:]))
    assert all(0 <= x <= 1_000_000 for x in s)
    # risk set shrinks as lifetimes grow; counts reconcile
    n = [r.n_risk for r in rows]
    assert all(a > b for a, b in zip(n, n[1:]))
    assert n[0] == sum(r.d_churned + r.c_censored for r in rows)


def test_stage_stream_files_handles_directory_tables(spark, tmp_path):
    """Directory-shaped parquet tables (Spark-written part files) must
    stream ALL rows: the file source does not recurse, so the staging
    helper links part files flat. A flat single-file table still works."""
    import os

    import __spark_entry__ as em

    src = str(tmp_path / "tbl.parquet")
    spark.range(100).selectExpr("id", "id * 2 AS v").coalesce(
        2
    ).write.parquet(src)
    assert os.path.isdir(src)
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    em._stage_stream_files(stage, src, "tbl")
    flat = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    assert len(flat) >= 2 and all(
        not os.path.isdir(os.path.join(stage, f)) or os.path.islink(
            os.path.join(stage, f)
        )
        for f in flat
    )
    got = (
        spark.readStream.schema("id long, v long")
        .parquet(stage)
        .writeStream.format("memory")
        .queryName("stage_dir_tbl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    got.awaitTermination()
    assert spark.table("stage_dir_tbl").count() == 100


def test_semantic_dedup_ingest_matches_batch(spark, tmp_dir):
    """Streaming SEMANTIC dedup at ingest (r10 verdict task 4): the
    sf0.001 embedding corpus streamed in three micro-batches against
    persisted trained centroids must leave state whose reconstructed
    view EQUALS the batch semantic_dedup_keep on the full corpus —
    same components, same member counts, same least-prototypical
    keep election."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        similarity,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents, cn = similarity.train_semdedup_centroids(
        emb, 16, sample=2048, iters=4
    )

    src = f"{tmp_dir}/vecs"
    schema = "vec_id LONG, embedding ARRAY<FLOAT>"
    for part in range(3):
        emb.filter(F.col("vec_id") % 3 == part).select(
            "vec_id", "embedding"
        ).coalesce(1).write.mode("append").parquet(src)

    index = f"{tmp_dir}/semindex"
    stream = file_stream(spark, src, schema, max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(
            pipeline.semantic_dedup_ingest_sink(
                index, cents, cnorms_sq=cn, threshold=0.4
            )
        )
        .option("checkpointLocation", f"{tmp_dir}/semckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    streamed = {
        r.component: (r.n_members, r.keep_id, r.keep_cos_micro)
        for r in pipeline.semantic_dedup_state_view(spark, index).collect()
    }
    batch = {
        r.component: (r.n_members, r.keep_id, r.keep_cos_micro)
        for r in similarity.semantic_dedup_keep(
            emb, cents, threshold=0.4, cnorms_sq=cn
        ).collect()
    }
    assert streamed == batch
    # the corpus has real cross-batch structure to have proven anything
    assert any(n > 1 for n, _, _ in batch.values())

    # at-least-once replay: re-applying an already-ledgered batch id is
    # a no-op (fast-path), state unchanged
    sink = pipeline.semantic_dedup_ingest_sink(
        index, cents, cnorms_sq=cn, threshold=0.4
    )
    sink(emb.filter(F.col("vec_id") % 3 == 0), 0)
    again = {
        r.component: (r.n_members, r.keep_id, r.keep_cos_micro)
        for r in pipeline.semantic_dedup_state_view(spark, index).collect()
    }
    assert again == streamed


def test_ann_serving_stream_matches_batch(spark, tmp_dir):
    """Streamed ANN query serving must equal the batch
    ivf_multi_query_topk on the same query set, whatever the batching:
    each query probes the same cells and appends its exact top-k once,
    so the accumulated output is batching-independent."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        similarity,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents, cn = similarity.train_semdedup_centroids(
        emb, 16, sample=2048, iters=4
    )
    index = f"{tmp_dir}/annidx"
    similarity.build_ivf_index(emb, cents, index, cnorms_sq=cn)

    qrows = (
        emb.filter(F.col("vec_id") < 6)
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows
    ]

    src = f"{tmp_dir}/qstream"
    for part in range(3):
        emb.filter(
            (F.col("vec_id") < 6) & (F.col("vec_id") % 3 == part)
        ).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
        ).coalesce(1).write.mode("append").parquet(src)

    out = f"{tmp_dir}/annout"
    stream = file_stream(
        spark, src, "query_id LONG, qvec ARRAY<FLOAT>",
        max_files_per_trigger=1,
    )
    q = (
        stream.writeStream.foreachBatch(
            pipeline.ann_serving_sink(index, cents, out, cnorms_sq=cn, k=5)
        )
        .option("checkpointLocation", f"{tmp_dir}/annckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    streamed = {
        (r["query_id"], r["vec_id"], r["cos_sim"])
        for r in spark.read.parquet(out).collect()
    }
    # batch twin: probes ranked by the SAME left-to-right-fold contract
    probes = {
        qid: similarity.rank_probe_cells(qv, cents, cn, 2)
        for qid, qv in queries
    }
    batch = {
        (r["query_id"], r["vec_id"], r["cos_sim"])
        for r in similarity._topk_over_probed(
            spark, spark.read.parquet(index), probes, queries,
            5, "vec_id", "embedding", 6, "cid",
        ).collect()
    }
    assert streamed == batch
    assert len({(a, b) for a, b, _ in streamed}) == len(streamed)
    assert {a for a, _, _ in streamed} == {qid for qid, _ in queries}


def test_dhash_ingest_stream_matches_batch(spark, tmp_dir):
    """Perceptual media ingest streamed in three interleaved slices
    must accumulate EXACTLY the batch dhash_near_dup_pairs pair set —
    including cross-batch pairs whose smaller id arrives LATER (the
    id-order bug class the semantic ingest test caught)."""
    import numpy as np

    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        multimodal,
    )

    def pgm(seed, shift=0):
        rng = np.random.RandomState(seed)
        px = rng.randint(0, 192, 72, dtype=np.uint8)
        return b"P5\n9 8\n255\n" + bytes((px + shift).tolist())

    rows = []
    for i in range(30):
        rows.append((i, pgm(i)))
        if i % 5 == 0:
            # planted brightness twin with an id on the OTHER side of
            # the slice split (big id, same signature)
            rows.append((100 + i, pgm(i, shift=30)))
    media = spark.createDataFrame(rows, "media_id long, content binary")

    src = f"{tmp_dir}/mstream"
    for part in range(3):
        media.filter(F.col("media_id") % 3 == part).coalesce(
            1
        ).write.mode("append").parquet(src)

    state = f"{tmp_dir}/mihstate"
    pairs = f"{tmp_dir}/mihpairs"
    stream = file_stream(
        spark, src, "media_id LONG, content BINARY",
        max_files_per_trigger=1,
    )
    q = (
        stream.writeStream.foreachBatch(
            pipeline.dhash_ingest_sink(state, pairs, cb_bits=4)
        )
        .option("checkpointLocation", f"{tmp_dir}/mihckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    streamed = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in spark.read.parquet(pairs).collect()
    }
    batch = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in multimodal.dhash_near_dup_pairs(
            multimodal.image_dhash_chunks(media)
        ).collect()
    }
    assert streamed == batch
    # the planted twins must all be present at hamming 0
    for i in range(0, 30, 5):
        assert (i, 100 + i, 0) in streamed


def test_token_budget_stream_matches_batch(spark, tmp_dir):
    """Streamed token metering must sum to the batch per-source
    aggregation whatever the batching (associative partials), with the
    character-count fallback for words absent from the dictionary."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        tokenizer,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat", "a"),
            (2, "the the zq", "a"),
            (3, "cat zq zq cat", "b"),
            (4, "sat", "b"),
            (5, "the", "c"),
        ],
        "doc_id long, text string, source string",
    )
    dict_path = f"{tmp_dir}/dict"
    spark.createDataFrame(
        [("the", 1), ("cat", 2), ("sat", 2)], "word string, tok_n long"
    ).write.parquet(dict_path)

    src = f"{tmp_dir}/docstream"
    for part in range(3):
        docs.filter(F.col("doc_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    out = f"{tmp_dir}/partials"
    stream = file_stream(
        spark, src, "doc_id LONG, text STRING, source STRING",
        max_files_per_trigger=1,
    )
    q = (
        stream.writeStream.foreachBatch(
            pipeline.token_budget_sink(dict_path, out)
        )
        .option("checkpointLocation", f"{tmp_dir}/tbckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    got = {
        r["source"]: (r["n_tokens"], r["n_words"], r["n_docs"])
        for r in pipeline.token_budget_view(spark, out).collect()
    }
    # a: the(1)+cat(2)+sat(2) + the(1)+the(1)+zq(2 chars) = 9, 6 words
    # b: cat(2)+zq(2)+zq(2)+cat(2) + sat(2) = 10, 5 words
    # c: the(1) = 1, 1 word
    assert got == {"a": (9, 6, 2), "b": (10, 5, 2), "c": (1, 1, 1)}
    # batch twin through the library path
    batch = {
        r["doc_id"]: r["n_tokens"]
        for r in tokenizer.doc_token_counts(
            docs, spark.read.parquet(dict_path)
        ).collect()
    }
    assert sum(batch.values()) == sum(v[0] for v in got.values())
