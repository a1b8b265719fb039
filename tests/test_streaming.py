"""Structured-Streaming semantics tests (SURVEY §5.3), driven through
bounded file streams + the memory sink — no broker required.

Covers: windowed rollup == batch twin, keyed first-arrival dedup (T5),
stream-static enrichment (T7), watermark late-data drop across a
checkpointed restart (T2), the bounded throttled replay (O2), and the
foreachBatch sinks the catalog runs, each against its batch twin and
under a replayed batch.
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


def test_run_to_memory_removes_its_checkpoint(spark, tmp_path, monkeypatch):
    import tempfile

    import pytest
    from pyspark.errors import StreamingQueryException

    src = str(tmp_path / "src")
    _write_events(spark, src, _rows(("2024-01-01T10:00:05", "a", 1.0)))
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    made = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    stream = file_stream(spark, src, SCHEMA)
    assert _drain(spark, stream, f"r_{uuid.uuid4().hex[:6]}", "append").count() == 1
    assert len(made) == 1 and list(root.iterdir()) == []

    failing = stream.select(F.raise_error(F.lit("boom")).alias("x"))
    with pytest.raises(StreamingQueryException):
        pipeline.run_to_memory(failing, f"f_{uuid.uuid4().hex[:6]}")
    assert len(made) == 2 and list(root.iterdir()) == []


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


def test_streaming_left_outer_join_flushes_tail_nulls(spark):
    """The watermark-gated negatives: purchases in the final 2h window
    can only emit their NULL row if something later advances the
    watermark — the sentinel mechanism must flush ALL of them, so the
    streaming result equals the batch left interval join exactly."""
    from catalog.streaming import q_streaming_left_outer_join

    sf = "/root/testdata/sf0.001"
    got = q_streaming_left_outer_join(spark, sf)
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
    from catalog.inference import q_kaplan_meier_churn

    rows = q_kaplan_meier_churn(spark, "/root/testdata/sf0.001").collect()
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

    from catalog.streaming import _stage_stream_files

    src = str(tmp_path / "tbl.parquet")
    spark.range(100).selectExpr("id", "id * 2 AS v").coalesce(
        2
    ).write.parquet(src)
    assert os.path.isdir(src)
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    _stage_stream_files(stage, src, "tbl")
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
    so the accumulated output is batching-independent — and a replay
    of an applied batch id appends nothing."""
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
    sink = pipeline.ann_serving_sink(index, cents, out, cnorms_sq=cn, k=5)
    q = (
        stream.writeStream.foreachBatch(sink)
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

    def answers():
        return sorted(map(tuple, spark.read.parquet(out).collect()))

    drained = answers()
    sink(spark.read.parquet(src).filter(F.col("query_id") % 3 == 0), 0)
    assert answers() == drained


def test_dhash_ingest_stream_matches_batch(spark, tmp_dir):
    """Perceptual media ingest streamed in three interleaved slices
    must accumulate EXACTLY the batch dhash_near_dup_pairs pair set —
    including cross-batch pairs whose smaller id arrives LATER (the
    id-order bug class the semantic ingest test caught). A replay of an
    applied batch id adds no pair and no MIH state row."""
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
    sink = pipeline.dhash_ingest_sink(state, pairs, cb_bits=4)
    q = (
        stream.writeStream.foreachBatch(sink)
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

    def stored():
        return sorted(map(tuple, spark.read.parquet(pairs).collect())), [
            spark.read.parquet(f"{state}/table{t}").count() for t in range(4)
        ]

    drained = stored()
    sink(media.filter(F.col("media_id") % 3 == 0), 0)
    assert stored() == drained


def test_token_budget_stream_matches_batch(spark, tmp_dir):
    """Streamed token metering must sum to the batch per-source
    aggregation whatever the batching (associative partials), with the
    character-count fallback for words absent from the dictionary; a
    replay of an applied batch id leaves the totals unchanged."""
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
    sink = pipeline.token_budget_sink(dict_path, out)
    q = (
        stream.writeStream.foreachBatch(sink)
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

    sink(docs.filter(F.col("doc_id") % 3 == 0), 0)
    assert {
        r["source"]: (r["n_tokens"], r["n_words"], r["n_docs"])
        for r in pipeline.token_budget_view(spark, out).collect()
    } == got
