"""The three workloads. Each drives the engine only through public
functions of the package and returns end-to-end figures, per-layer
figures and its correctness counts.

Sizes live in ``SIZES``; ``smoke`` is a seconds-long variant for the
benchmark's own tests.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import gen
import spans
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark import (
    get_spark,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions.codecs import (
    decode_kafka_value,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.es_wire_sink import (
    EsBulkWireDataSource,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.readers import (
    file_stream,
    read_parquet,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.streaming.pipeline import (
    windowed_rollup,
)
from pyspark.sql import functions as F

WIRE_DDL = ("key BINARY, value BINARY, topic STRING, `partition` INT, "
            "`offset` BIGINT, timestamp TIMESTAMP")
WATERMARK_S = 60

#: catalog queries that no artifact cache serves: relational ones that
#: are compute-bound at scale and graph ones where building the plan
#: (driver side, many small jobs) dominates
CATALOG_QUERIES = (
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "sessionize_events", "minhash_dedup_pairs", "pagerank_user_graph",
)

SIZES = {
    "full": {
        "replay": {"rows": 60_000, "rooms": 1000, "span_s": 1800, "files": 3,
                   "per_trigger": 1},
        "live": {"rate": 4_000, "tick": 0.25, "rooms": 1000, "warm_ticks": 4,
                 "drain_deadline_s": 30.0},
        "catalog": {"sf": 0.001, "warm_passes": 3, "queries": CATALOG_QUERIES},
        "probe": {"rows": 20_000, "rooms": 200, "span_s": 600, "files": 4,
                  "per_trigger": 2},
        "ladder_reps": 3,
    },
    "smoke": {
        "replay": {"rows": 4_000, "rooms": 50, "span_s": 300, "files": 4,
                   "per_trigger": 2},
        "live": {"rate": 1_000, "tick": 0.25, "rooms": 50, "warm_ticks": 2,
                 "drain_deadline_s": 30.0},
        "catalog": {"sf": 0.001, "warm_passes": 1,
                    "queries": ("tpch_q1_pricing_summary", "minhash_dedup_pairs",
                                "pagerank_user_graph")},
        "probe": {"rows": 2_000, "rooms": 20, "span_s": 300, "files": 2,
                  "per_trigger": 1},
        "ladder_reps": 1,
    },
}


@dataclass
class Outcome:
    e2e: dict[str, float]
    layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    #: the figure the traced/untraced ratio is taken on
    primary: float = 0.0
    #: catalog only: per-query medians (build_s, exec_s, wall_s, jobs, ...)
    per_query: dict | None = None

    def add_check(self, result: tuple[int, int, list[str]]) -> None:
        a, f, n = result
        self.attempted += a
        self.failed += f
        self.notes += n


class Context:
    """Per-run state: the session, the scratch directory, the sizes."""

    def __init__(self, work: str, seed: int, seconds: float, size: str):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.size = SIZES[size]
        self.spark = None
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        d = os.path.join(self.work, f"{tag}-{self._n}")
        os.makedirs(d)
        return d

    def start_session(self):
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench")
        self.spark.dataSource.register(EsBulkWireDataSource)
        # keep every micro-batch's progress, not only the last 100
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        return self.spark


# ------------------------------------------------------------ sensor path
def sensor_backlog(ctx: Context, cfg: dict, seed: int, rows: int | None = None):
    """Land a seeded backlog; returns (readings, directory)."""
    rng = np.random.default_rng(seed)
    df = gen.sensor_frame(rng, rows or cfg["rows"], cfg["rooms"], cfg["span_s"])
    d = ctx.fresh_dir("backlog")
    gen.write_wire_files(df, d, cfg["files"])
    return df, d


def decoded(df):
    return decode_kafka_value(df, gen.RECORD_DDL)


def rolled(records):
    out = windowed_rollup(records.drop("sent", "event_id"), "ts", ["room"],
                          list(gen.METRICS), "1 minute",
                          watermark=f"{WATERMARK_S} seconds")
    return out.withColumn("doc_id", F.concat_ws(
        "@", "room", F.unix_timestamp("window_start").cast("string")))


def es_options(w, path: str, mapping_id: str):
    return (w.format("es_bulk_wire").option("path", path)
            .option("index", "room-{room}").option("mapping_id", mapping_id))


def drain(ctx: Context, in_dir: str, per_trigger: int):
    """One closed-loop catch-up: drain the landed backlog with
    ``availableNow``. Returns (wall s, start epoch, progress, out dir)."""
    spark = ctx.spark
    out = ctx.fresh_dir("replay-out")
    raw = file_stream(spark, in_dir, WIRE_DDL, "parquet", per_trigger)
    w = es_options(rolled(decoded(raw)).writeStream.outputMode("append")
                   .option("checkpointLocation", ctx.fresh_dir("ckpt"))
                   .trigger(availableNow=True), out, "doc_id")
    t0 = time.time()
    q = w.start()
    q.awaitTermination()
    wall = time.time() - t0
    if q.exception() is not None:
        raise RuntimeError(f"replay query failed: {q.exception()}")
    return wall, t0, _progress(q), out


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def batch_ends(progress: list[dict]) -> dict[int, float]:
    return {p["batchId"]: spans.progress_end(p) for p in progress}


def stream_layer(progress: list[dict], landed_at=None) -> dict[str, float]:
    """Per-layer figures of a stream from its progress entries.

    ``landed_at(t)`` gives the rows landed by epoch ``t``; without it the
    whole backlog is taken as landed before the first trigger.
    """
    active = [p for p in progress if p.get("numInputRows", 0) > 0] or progress
    out = {"stream.batches": float(len(active)),
           "stream.rows_per_batch_p50": spans.percentile(
               [p["numInputRows"] for p in active], 50)}
    for ph in spans.PHASES + ("triggerExecution",):
        out[f"stream.{ph}_ms_p50"] = spans.percentile(
            [p["durationMs"].get(ph, 0) for p in active], 50)
    gaps = [spans.progress_start(b) - spans.progress_end(a)
            for a, b in zip(progress, progress[1:])]
    out["stream.trigger_gap_ms_p50"] = 1000 * spans.percentile(gaps or [0.0], 50)
    done, backlog = 0, []
    total = sum(p["numInputRows"] for p in progress)
    for p in progress:
        landed = landed_at(spans.progress_start(p)) if landed_at else total
        backlog.append(landed - done)
        done += p["numInputRows"]
    out["stream.backlog_rows_max"] = float(max(backlog))
    st = [s for p in progress for s in p.get("stateOperators", [])]
    out["state.rows_max"] = float(max([s["numRowsTotal"] for s in st], default=0))
    out["state.memory_mb_max"] = max(
        [s["memoryUsedBytes"] for s in st], default=0) / 2**20
    out["state.rows_dropped_by_watermark"] = float(
        sum(s.get("numRowsDroppedByWatermark", 0) for s in st))
    out["plan.build_s"] = sum(p["durationMs"].get("queryPlanning", 0)
                              for p in progress) / 1000
    out["plan.exec_s"] = sum(p["durationMs"].get("addBatch", 0)
                             for p in progress) / 1000
    return out


def payload_size(out_dir: str, docs) -> dict[str, float]:
    size = 0
    for root, _, files in os.walk(out_dir):
        size += sum(os.path.getsize(os.path.join(root, f)) for f in files
                    if f.endswith(".ndjson"))
    return {"sink.out_docs": float(len(docs)), "sink.out_bytes": float(size)}


def ladder(ctx: Context, in_dir: str, tracer) -> dict[str, float]:
    """The landed backlog in batch mode, one layer added per rung, each
    written to ``noop`` except the last, which adds the sink. A layer's
    self time is the difference between consecutive rungs (medians)."""
    spark = ctx.spark
    out = ctx.fresh_dir("ladder-out")
    rungs = {
        "scan": lambda: read_parquet(spark, in_dir),
        "decode": lambda: decoded(read_parquet(spark, in_dir)),
        "rollup": lambda: rolled(decoded(read_parquet(spark, in_dir))),
        "sink": lambda: rolled(decoded(read_parquet(spark, in_dir))),
    }
    med = {}
    with tracer.span("ladder"):
        for name, build in rungs.items():
            times = []
            for _ in range(ctx.size["ladder_reps"]):
                with tracer.span(f"ladder.{name}"):
                    t0 = time.time()
                    w = build().write.mode("overwrite")
                    if name == "sink":
                        es_options(w, out, "doc_id").save()
                    else:
                        w.format("noop").save()
                    times.append(time.time() - t0)
            med[name] = float(np.median(times))
    prev, res = 0.0, {}
    for name in rungs:
        res[f"ladder.{name}_s"] = med[name] - prev
        prev = med[name]
    return res


def replay_probe(ctx: Context, tracer, seed: int) -> dict[str, float]:
    """Per-layer figures of the sensor path for a workload that does not
    run it: the ladder and one traced drain of a small backlog."""
    cfg = ctx.size["probe"]
    df, d = sensor_backlog(ctx, cfg, seed)
    res = ladder(ctx, d, tracer)
    with tracer.span("probe.drain") as sid:
        _, _, progress, out = drain(ctx, d, cfg["per_trigger"])
    tracer.add_progress(progress, sid, "probe")
    res.update(stream_layer(progress))
    res.update(payload_size(out, checks.read_payload(out)))
    return res


# ---------------------------------------------------------------- replay
def replay_prepare(ctx: Context):
    return sensor_backlog(ctx, ctx.size["replay"], ctx.seed)


def replay_warm(ctx: Context, state) -> None:
    """A cold one-batch drain of half the backlog's size: the first batch
    in a process starts the sink's Python workers."""
    cfg = dict(ctx.size["replay"])
    cfg.update(rows=cfg["rows"] // 2, files=cfg["per_trigger"])
    _, d = sensor_backlog(ctx, cfg, ctx.seed + 1)
    drain(ctx, d, cfg["per_trigger"])


def replay_run(ctx: Context, state, tracer) -> Outcome:
    """Closed loop: drain the same landed backlog again and again until
    the run's seconds are used (at least twice). Each figure is the
    median over drains, so the first, still-warming drain of a short run
    does not set it."""
    cfg = ctx.size["replay"]
    df, d = state
    expected = checks.expected_rollup(df, WATERMARK_S)
    counters = spans.EngineCounters(ctx.spark)
    walls, lat, layer_runs, outcome_checks = [], [], [], []
    t_end = time.time() + ctx.seconds
    while len(walls) < 2 or time.time() < t_end:
        mark = counters.mark()
        with tracer.span("replay.drain") as sid:
            wall, t0, progress, out = drain(ctx, d, cfg["per_trigger"])
        tracer.add_progress(progress, sid, "replay")
        eng = counters.since(mark)
        walls.append(wall)
        docs = checks.read_payload(out)
        ends = batch_ends(progress)
        lat.append([ends[b] - t0 for b, _, _ in docs])
        lr = stream_layer(progress)
        lr.update(payload_size(out, docs))
        lr.update({f"engine.{k}": float(v) for k, v in eng.items()})
        layer_runs.append(lr)
        outcome_checks.append(checks.check_replay(docs, expected))
        shutil.rmtree(out)
    wall = float(np.median(walls))
    o = Outcome(
        e2e={
            "throughput_per_s": len(df) / wall,
            "latency_p99_s": float(np.median([spans.percentile(x, 99) for x in lat])),
            "latency_geomean_s": float(np.median([spans.geomean(x) for x in lat])),
        },
        layer={k: float(np.median([r[k] for r in layer_runs])) for k in layer_runs[0]},
        primary=wall,
    )
    for c in outcome_checks:
        o.add_check(c)
    o.layer.update(ladder(ctx, d, tracer) if tracer.enabled else {})
    return o


# ------------------------------------------------------------------ live
def live_query(ctx: Context, in_dir: str, out: str):
    raw = file_stream(ctx.spark, in_dir, WIRE_DDL, "parquet")
    w = (decoded(raw).writeStream.outputMode("append")
         .option("checkpointLocation", ctx.fresh_dir("ckpt")))
    return es_options(w, out, "event_id").start()


def live_prepare(ctx: Context):
    """The live inputs are made during the run by the generator."""
    return None


def live_warm(ctx: Context, state) -> None:
    """A few ticks through a throw-away stream."""
    cfg = ctx.size["live"]
    in_dir, out = ctx.fresh_dir("live-warm-in"), ctx.fresh_dir("live-warm-out")
    q = live_query(ctx, in_dir, out)
    df, offset, per_tick = gen.live_schedule(ctx.seed + 1, cfg["rate"], cfg["tick"],
                                             cfg["warm_ticks"], cfg["rooms"])
    for k in range(cfg["warm_ticks"]):
        sl = slice(k * per_tick, (k + 1) * per_tick)
        gen.land(gen.wire_table(df.iloc[sl], gen.sent_times(0.0, offset[sl])),
                 in_dir, f"w-{k}.parquet")
        q.processAllAvailable()
    q.stop()


def live_run(ctx: Context, state, tracer) -> Outcome:
    """Open loop: a separate generator process lands one file per tick at
    a fixed rate for the run's seconds while the default trigger runs
    micro-batches back to back."""
    cfg = ctx.size["live"]
    ticks = max(2, int(round(ctx.seconds / cfg["tick"])))
    in_dir, out = ctx.fresh_dir("live-in"), ctx.fresh_dir("live-out")
    counters = spans.EngineCounters(ctx.spark)
    q = live_query(ctx, in_dir, out)
    mark = counters.mark()
    start = time.time() + 1.5  # the generator's imports finish before this
    with tracer.span("live.run") as sid:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
             "live", "--out", in_dir, "--seed", str(ctx.seed),
             "--rate", str(cfg["rate"]), "--tick", str(cfg["tick"]),
             "--ticks", str(ticks), "--rooms", str(cfg["rooms"]),
             "--start", repr(start)],
            stdout=subprocess.PIPE, text=True)
        try:
            gen_out, _ = proc.communicate(timeout=ctx.seconds + 60)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode != 0:
            q.stop()
            raise RuntimeError(f"live generator exited with {proc.returncode}")
        df, offset, per_tick = gen.live_schedule(ctx.seed, cfg["rate"], cfg["tick"],
                                                 ticks, cfg["rooms"])
        deadline = time.time() + cfg["drain_deadline_s"]
        while time.time() < deadline:
            if sum(p.numInputRows for p in q.recentProgress) >= len(df):
                break
            time.sleep(0.05)
        progress = _progress(q)
        q.stop()
    tracer.add_progress(progress, sid, "live")
    eng = counters.since(mark)
    gen_report = json.loads(gen_out.strip().splitlines()[-1])
    if tracer.enabled:
        for k in range(ticks):
            tracer.add("live.tick", start + k * cfg["tick"],
                       start + (k + 1) * cfg["tick"], sid, tick=k)
    docs = checks.read_payload(out)
    ends = batch_ends(progress)
    sent = gen.sent_times(start, offset)
    sent_by_id = dict(zip(df["event_id"].tolist(), sent.tolist()))
    lat = [ends[b] - sent_by_id[d["event_id"]] for b, _, d in docs
           if d.get("event_id") in sent_by_id and b in ends]
    busy = sum(p["durationMs"]["triggerExecution"] for p in progress
               if p["numInputRows"] > 0) / 1000

    def landed_at(t):
        return per_tick * int(np.clip(np.floor((t - start) / cfg["tick"]), 0, ticks))

    o = Outcome(
        e2e={
            "throughput_per_s": len(df) / busy,
            "latency_p99_s": spans.percentile(lat, 99),
            "latency_geomean_s": spans.geomean(lat),
        },
        layer=stream_layer(progress, landed_at),
    )
    o.primary = o.e2e["latency_geomean_s"]
    o.layer.update(payload_size(out, docs))
    o.layer.update({f"engine.{k}": float(v) for k, v in eng.items()})
    o.layer["generator.late_max_s"] = gen_report["late_max_s"]
    o.add_check(checks.check_live(docs, df, sent))
    if tracer.enabled:
        o.layer.update(ladder(ctx, in_dir, tracer))
    return o


# --------------------------------------------------------------- catalog
def _entry():
    import __spark_entry__

    return __spark_entry__


def catalog_pass(ctx: Context, sf_dir: str, names, tracer, counters, collect=False):
    """Build then execute each query once. Returns per-query figures and,
    with ``collect``, the rows for the checks."""
    qs = _entry().queries()
    per, rows = {}, {}
    for name in names:
        mark = counters.mark()
        with tracer.span("catalog.query", query=name):
            t0 = time.time()
            with tracer.span("catalog.build", query=name):
                df = qs[name](ctx.spark, sf_dir)
            t1 = time.time()
            with tracer.span("catalog.exec", query=name):
                pdf = df.toPandas()
            t2 = time.time()
        per[name] = {"build_s": t1 - t0, "exec_s": t2 - t1, "wall_s": t2 - t0,
                     **counters.since(mark)}
        if collect:
            rows[name] = pdf
    return per, rows


def catalog_prepare(ctx: Context):
    data = ctx.fresh_dir("catalog-data")
    gen.catalog_tables(data, ctx.seed, ctx.size["catalog"]["sf"])
    return data


def catalog_warm(ctx: Context, data) -> None:
    """The cold pass, then more while building the same plans still gets
    markedly faster (the JIT warming up)."""
    cfg = ctx.size["catalog"]
    for _ in range(cfg["warm_passes"]):
        catalog_pass(ctx, data, cfg["queries"], spans.Tracer(False),
                     spans.EngineCounters(ctx.spark))


def catalog_run(ctx: Context, data, tracer) -> Outcome:
    """Closed loop, one client: passes over the query set until the run's
    seconds are used (at least twice); per-query medians."""
    cfg = ctx.size["catalog"]
    names = cfg["queries"]
    counters = spans.EngineCounters(ctx.spark)
    passes, rows = [], {}
    t_end = time.time() + ctx.seconds
    while len(passes) < 2 or time.time() < t_end:
        per, got = catalog_pass(ctx, data, names, tracer, counters,
                                collect=not rows)
        rows = rows or got
        passes.append(per)

    def med(name, key):
        return float(np.median([p[name][key] for p in passes]))

    walls = [med(n, "wall_s") for n in names]
    build = sum(med(n, "build_s") for n in names)
    exe = sum(med(n, "exec_s") for n in names)
    total = float(sum(walls))
    o = Outcome(
        e2e={
            "throughput_per_s": len(names) / total,
            "latency_p99_s": spans.percentile(walls, 99),
            "latency_geomean_s": spans.geomean(walls),
        },
        layer={
            "plan.build_s": build,
            "plan.exec_s": exe,
            "engine.jobs": sum(med(n, "jobs") for n in names),
            "engine.stages": sum(med(n, "stages") for n in names),
            "engine.tasks": sum(med(n, "tasks") for n in names),
        },
        primary=total,
    )
    o.add_check(checks.check_catalog(
        rows, _entry().oracle_sql(), data, gen.CATALOG_TABLES,
        gen.planted_dup_pairs(gen.n_documents(cfg["sf"]))))
    # build + exec must account for each query's wall time
    for n in names:
        for p in passes:
            gap = p[n]["wall_s"] - p[n]["build_s"] - p[n]["exec_s"]
            if abs(gap) > 0.005 + 0.01 * p[n]["wall_s"]:
                o.failed += 1
                o.notes.append(f"{n}: build+exec misses wall by {gap:.4f}s")
    o.per_query = {n: {k: med(n, k) for k in passes[0][n]} for n in names}
    if tracer.enabled:
        # the probe's own plan.* figures describe its drain, not the catalog
        o.layer = {**replay_probe(ctx, tracer, ctx.seed + 2), **o.layer}
    return o


#: name → (make the inputs, cold warm-up pass, timed run)
WORKLOADS = {
    "sensor_replay": (replay_prepare, replay_warm, replay_run),
    "sensor_live": (live_prepare, live_warm, live_run),
    "catalog_mix": (catalog_prepare, catalog_warm, catalog_run),
}
